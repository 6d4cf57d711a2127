"""North-star extension queries ([ext]): dedup, similarity search, text
analysis, TF-IDF, multimodal plumbing (SURVEY.md §2 Part C extensions).

Oracle-checked wherever SQL-expressible; LSH/SimHash candidate generation is
hash-function-specific and therefore rows-only here, with recall tested
against exact brute force in tests/test_extensions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    FINGERPRINT_PREFIX,
    STOPWORDS,
    fingerprint,
    langid,
    langid_oracle_sql,
    quality_metrics,
    regex_token_count,
    tokens,
)
from ..operators.decontam import contamination_counts
from ..operators.dedup import (
    canonical_dedup,
    connected_components,
    exact_dedup,
    jaccard_pairs_exact,
    minhash_lsh_pairs,
)
from ..operators.multimodal import (
    assets_from_documents,
    extract_features,
    resize_signal,
    sample_frames,
)
from ..operators.simhash import simhash_neardup_pairs
from ..operators.similarity import (
    cosine_neardup_pairs,
    cosine_neardup_pairs_lsh,
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from ..sources.readers import load_table
from .registry import register

# DuckDB twin of similarity.dot(): ordered left-fold over the zipped lists,
# so float summation order matches Spark's F.aggregate exactly.
_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY text
    """,
    headline=True,
    tags=("dedup", "ext"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha256 digest (north star `dedup_exact`). The oracle
    groups by raw text — digest grouping must be equivalent."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("keep_doc_id", "dup_count")


@register(
    "q_dedup_canonical",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
    """,
    tags=("dedup", "ext"),
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup by canonical token-set form — catches permuted/repeated-word
    duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    return canonical_dedup(docs).select("keep_doc_id", "dup_count")


@register(
    "q_text_jaccard_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
    """,
    tags=("dedup", "ext"),
)
def q_text_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard near-dup pairs within a source block,
    via inverted token index — the oracle-checkable twin of the LSH path."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_exact(docs, threshold=0.8)


@register(
    "q_dedup_setjoin_prefix",
    # Brute-force all-pairs Jaccard — the prefix-filtered join must EQUAL it
    # (the filter is complete, the verify is exact). Threshold compared as
    # the rational 19/20 on both sides so boundary pairs (e.g. jaccard
    # exactly 19/20, which binary 0.95 misorders) keep/drop identically.
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 20 >= 19 * (sa.n + sb.n - n_inter)
    """,
    tags=("dedup", "ext"),
)
def q_dedup_setjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity self-join (SSJoin/PPJoin,
    Chaudhuri et al. 2006 / Xiao et al. 2011): all pairs with token-set
    Jaccard >= 0.95 across the WHOLE corpus — no blocking key. The
    threshold itself prunes: tokens sort by global rarity, candidate
    generation explodes only each set's (1-t) rarest-token prefix (a pair
    at Jaccard >= t must collide inside both prefixes), the length filter
    rides the join condition, and verification is one in-row
    array_intersect — no all-pairs construct anywhere, candidate fan-out
    per token bounded by its PREFIX document frequency (high-df soup
    tokens never enter large prefixes). Provably equal to brute-force
    all-pairs Jaccard; the driver hash-checks that equality against the
    quadratic DuckDB oracle."""
    from ..operators.dedup import set_similarity_join_prefix

    docs = load_table(spark, sf_dir, "documents")
    return set_similarity_join_prefix(docs, threshold=0.95)


@register(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT doc_id, source,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
    ),
    undirected AS (
        SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM edges
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT reach.node, undirected.v AS r
        FROM reach JOIN undirected ON undirected.u = reach.r
    )
    SELECT node AS doc_id,
           MIN(r) AS cluster_rep,
           CAST(MIN(r) = node AS BOOLEAN) AS is_kept
    FROM reach
    GROUP BY node
    """,
    tags=("dedup", "ext", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment (connected components over the exact-
    Jaccard pair graph): every doc labeled with the smallest doc id in its
    duplicate cluster, `is_kept` marking the survivor — the keep/drop
    decision a corpus-curation pipeline materializes, vs the raw pair list.

    Spark side is iterative min-label propagation (operators/dedup.py
    `connected_components`); the oracle computes the same fixpoint as a
    recursive-CTE reachability closure. Both are exact, so this normally
    non-SQL-expressible iterative algorithm is still hash-gated."""
    docs = load_table(spark, sf_dir, "documents")
    edges = jaccard_pairs_exact(docs, threshold=0.8)
    return connected_components(docs.select("doc_id"), edges, node_col="doc_id")


@register("q_dedup_minhash_lsh", oracle=None, headline=True, tags=("dedup", "ext", "lsh"))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (signature → bands → bucket join → exact
    verify). Hash-family-specific, so rows-only here; recall vs brute force
    is pinned in tests/test_extensions.py."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.8)


@register(
    "q_dedup_minhash_incremental", oracle=None, tags=("dedup", "ext", "lsh")
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash near-dup (north star `minhash_incremental`,
    VERDICT r10 #2): a NEW batch (every third doc) probes the existing
    corpus's band-signature side table (`minhash_band_signatures` over
    the other two thirds — corpus text never re-read at probe time) and
    self-joins within the batch; every emitted pair is exact-Jaccard
    verified. Hash-family-specific like q_dedup_minhash_lsh, so
    rows-only here; the COMPOSITION IDENTITY (== full-batch
    minhash_lsh_pairs over old+new restricted to new-touching pairs,
    jaccard doubles bit-identical) and the no-corpus-shuffle broadcast
    plan are pinned in tests."""
    from ..operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    side = minhash_band_signatures(corpus, threshold=0.8)
    return minhash_lsh_pairs_incremental(batch, side, threshold=0.8)


@register("q_dedup_simhash", oracle=None, tags=("dedup", "ext", "simhash"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Arrow pandas-UDF signatures, JVM-side band
    bucketing + bit_count Hamming verify)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, max_hamming=6)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "q_similarity_topk_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS vn FROM e
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               {_dot_sql('c.v', 'q.v')} / (c.vn * q.vn) AS cos_raw
        FROM n c, n q
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, vec_id, ROUND(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rk
    FROM scored
    QUALIFY rk <= 10
    """,
    headline=True,
    tags=("similarity", "ext"),
)
def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id<10 (north star
    `similarity_topk_cosine`): broadcast queries, one corpus scan, ordered
    fold dot product (reproducible float summation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=10)


@register(
    "q_ann_hard_negatives",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v, sqrt({_dot_sql('v', 'v')}) AS vn FROM e
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS vec_id, c.label AS neg_label,
               {_dot_sql('c.v', 'q.v')} / (c.vn * q.vn) AS cos_raw
        FROM n c, n q
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
          AND c.label != q.label
    )
    SELECT query_id, query_label, vec_id, neg_label,
           ROUND(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rk
    FROM scored
    QUALIFY rk <= 10
    """,
    tags=("similarity", "curation", "ext"),
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (north star extending
    `similarity_topk_cosine`): for each anchor (vec_id<10) the top-10 most
    cosine-similar vectors with a DIFFERENT label — the near-miss
    wrong-label examples dense-retriever training wants. Broadcast
    anchors, one corpus scan, label constraint inside the join condition
    (same-label rows never reach the top-k window), ordered-fold dot
    product for reproducible float summation."""
    from ..operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    return hard_negative_topk(emb, anchors, k=10)


@register(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v, sqrt({_dot_sql('v', 'v')}) AS vn FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_dot_sql('a.v', 'b.v')} / (a.vn * b.vn), 6) AS cosine
    FROM n a JOIN n b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_dot_sql('a.v', 'b.v')} / (a.vn * b.vn) >= 0.4
    """,
    tags=("similarity", "dedup", "ext"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs blocked by label (the blocking
    key plays the role LSH buckets play at scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.4, block_col="label")


@register(
    "q_dedup_embedding_cosine_lsh",
    oracle=None,
    tags=("similarity", "dedup", "ext", "lsh"),
)
def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding-cosine near-dup: banded hyperplane LSH
    sub-buckets within each label block, so the join key is (block, band,
    band_val) — no unbounded within-block all-pairs (VERDICT r02 #2). The
    synthetic corpus has no planted high-similarity pairs (max within-label
    cosine ~0.5), so this query runs at threshold 0.4; (planes, bands) are
    DERIVED by choose_lsh_params from (threshold, target recall 0.95) —
    (12, 6): narrow 2-bit bands, as low angles need — not hand-tuned
    (VERDICT r03 #5). Recall vs the exact twin (q_dedup_embedding_cosine)
    is pinned in tests/test_extensions.py. No oracle: LSH recall is
    hash-function-specific (same contract as q_dedup_minhash_lsh)."""
    from ..operators.similarity import choose_lsh_params

    emb = load_table(spark, sf_dir, "embeddings")
    planes, bands = choose_lsh_params(0.4, target_recall=0.95)
    return cosine_neardup_pairs_lsh(
        emb, threshold=0.4, block_col="label", planes=planes, bands=bands
    )


@register("q_similarity_lsh_topk", oracle=None, tags=("similarity", "ext", "lsh"))
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed approximate top-k with Lv-style
    query-directed MULTI-PROBE (the ANN scale path): per band the query
    probes its exact bucket plus the globally best least-confident-bit
    perturbations. At the driver corpus's few hundred vectors the buckets
    are nearly empty and ANN is pointless — the geometry here is sized to
    exercise the path; the scale pin lives in tests (20k-vector corpus:
    recall@10 0.708 at candidate fraction 0.239 vs the exact-band
    default's ~0.5 at the same budget)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_bucket_topk(emb, queries, k=10, planes=24, bands=6, n_probe=10)


@register("q_similarity_pq_topk", oracle=None, tags=("similarity", "ext", "pq"))
def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compressed top-k (Jegou et al. 2011): the
    corpus scores from m=8 one-byte codes via asymmetric-distance lookup
    tables (32x memory compression — the big-index RAM play), the ADC
    shortlist re-ranks with exact cosine, so every emitted cosine is a
    true corpus cosine. Recall@10 ~0.93 at 2.5% re-rank fraction pinned
    on a 20k corpus in tests; the driver corpus here is small, so the
    codebook k and shortlist scale down with it."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, k=10, m=8, n_centroids=64, shortlist=100)


_PQ_INDEX_CACHE: dict[str, str] = {}


@register(
    "q_similarity_pq_served", oracle=None, tags=("similarity", "ext", "pq")
)
def q_similarity_pq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k served from a PERSISTED index (VERDICT r09 #2): codebooks
    + codes are trained/encoded ONCE (`pq_index_build` into a
    snapshot-committed table whose manifest atomically references the
    codebook sidecar) and every query after reads stored codes —
    no k-means and no corpus re-encode in the query, the FAISS
    write-index/serve split. Results are IDENTICAL to the in-query
    `q_similarity_pq_topk` (pinned in tests — the serve path shares the
    ADC + exact-re-rank core verbatim); the driver's rows-only check
    still re-executes the full serve plan. The index build here is
    per-process memoized so repeated registry runs measure the true
    serve-only cost."""
    import os
    import tempfile

    from ..operators.similarity import pq_index_build, pq_index_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _PQ_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.exists(os.path.join(path, "_MANIFEST.json")):
        path = os.path.join(
            tempfile.mkdtemp(prefix="spark_graft_pqidx_"), "index"
        )
        pq_index_build(emb, path, m=8, n_centroids=64)
        _PQ_INDEX_CACHE[sf_dir] = path
    return pq_index_topk(
        spark, path, emb, queries, k=10, shortlist=100
    )


_IVFPQ_INDEX_CACHE: dict[str, str] = {}


@register(
    "q_similarity_ivfpq_served", oracle=None, tags=("similarity", "ext", "ivfpq")
)
def q_similarity_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ top-k served from a PERSISTED index (VERDICT r10 #3): the
    production ANN shape — coarse centroids prune WHICH stored codes a
    query scans (bucket column persisted with the codes), PQ codes cut
    WHAT each row costs, exact re-rank keeps cosines true, and the whole
    model (codebooks + IVF centroids) lives in the snapshot-committed
    index built ONCE by `pq_index_build(ivf_centroids=...)`. Results are
    IDENTICAL to the in-query `q_similarity_ivfpq_topk` over the same
    corpus/params (pinned in tests — the serve path shares
    `_adc_shortlist` + `_exact_rerank` verbatim); the driver's rows-only
    check re-executes the full probe-pruned serve plan. Build memoized
    per-process so repeated registry runs measure serve-only cost."""
    import os
    import tempfile

    from ..operators.similarity import pq_index_build, pq_index_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _IVFPQ_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.exists(os.path.join(path, "_MANIFEST.json")):
        path = os.path.join(
            tempfile.mkdtemp(prefix="spark_graft_ivfpqidx_"), "index"
        )
        pq_index_build(emb, path, m=8, n_centroids=64, ivf_centroids=8)
        _IVFPQ_INDEX_CACHE[sf_dir] = path
    return pq_index_topk(
        spark, path, emb, queries, k=10, shortlist=100, n_probe=3
    )


@register(
    "q_similarity_ivfpq_topk", oracle=None, tags=("similarity", "ext", "ivfpq")
)
def q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed ANN (the FAISS IVFPQ shape): coarse quantizer
    prunes WHICH codes a query scans, PQ cuts WHAT each row costs (m=8
    bytes), exact re-rank keeps cosines true. Compounding pinned on a 20k
    corpus in tests (PQ costs <=0.05 recall over IVF-Flat at identical
    probes); parameters scale down to the driver corpus."""
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(
        emb, queries, k=10, n_centroids=8, n_probe=3, pq_centroids=64,
        shortlist=100,
    )


@register("q_similarity_ivf_topk", oracle=None, tags=("similarity", "ext", "ivf"))
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer buckets the corpus,
    each query scores its n_probe nearest buckets (data-adaptive ANN scale
    path next to LSH; recall vs brute force pinned in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_langid",
    oracle=None,  # installed below (needs the generated scoring SQL)
    tags=("text", "ext"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language occurrence scores,
    argmax with alphabetical tie priority."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", langid(F.col("text")).alias("lang_pred"))


def _install_langid_oracle() -> None:
    from .registry import REGISTRY, QuerySpec

    aliases, case = langid_oracle_sql("text")
    sql = f"""
    WITH scored AS (
        SELECT doc_id,
        {aliases}
        FROM documents
    )
    SELECT doc_id, {case} AS lang_pred FROM scored
    """
    spec = REGISTRY["q_text_langid"]
    REGISTRY["q_text_langid"] = QuerySpec(
        name=spec.name,
        spark_fn=spec.spark_fn,
        oracle=sql,
        headline=spec.headline,
        tags=spec.tags,
        doc=spec.doc,
    )


_install_langid_oracle()


_STOP_LITS = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> list_contains([{_STOP_LITS}], x))) AS BIGINT)
                   AS n_stop
        FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           CAST(n_alpha AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5
             + (1 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
             + least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.2 AS quality_score
    FROM t
    """,
    headline=True,
    tags=("text", "ext"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: TTR, token-length, stopword ratio, blended
    score (north star text-analysis quality scoring)."""
    docs = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["n_distinct"].alias("n_distinct"),
        m["ttr"].alias("ttr"),
        m["avg_token_len"].alias("avg_token_len"),
        m["stop_ratio"].alias("stop_ratio"),
        m["quality_score"].alias("quality_score"),
    )


def _install_gopher_query() -> None:
    from ..functions.text import gopher_rules, gopher_rules_oracle_sql

    @register(
        "q_quality_gopher_rules",
        oracle=gopher_rules_oracle_sql(),
        tags=("text", "curation", "ext"),
    )
    def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style composite heuristic filter (Rae et al. 2021 §A1.1;
        the RefinedWeb/Dolma curation stage): six per-document rules —
        token-count bounds, mean-word-length bounds, alphabetic-word
        fraction, stop-word floor, symbol ratio, duplicate-bigram ceiling —
        with per-rule features, the conjunctive `keep`, and `fail_reason` =
        first violated rule. Single-pass in-row expressions (token array
        bound once), whole-stage codegen, zero shuffles: the filter runs at
        scan speed at any corpus size, and every feature is exact-integer
        math so the oracle is hash-exact."""
        docs = load_table(spark, sf_dir, "documents")
        g = gopher_rules(F.col("text"))
        return docs.select(
            "doc_id",
            g["n_tokens"].alias("n_tokens"),
            g["mean_word_len"].alias("mean_word_len"),
            g["alpha_frac"].alias("alpha_frac"),
            g["stop_hits"].alias("stop_hits"),
            g["symbol_ratio"].alias("symbol_ratio"),
            g["distinct_bigram_ratio"].alias("distinct_bigram_ratio"),
            g["keep"].alias("keep"),
            g["fail_reason"].alias("fail_reason"),
        )


_install_gopher_query()


@register(
    "q_dedup_within_doc",
    # list_distinct's output order is UNSPECIFIED in DuckDB, so the oracle
    # replays keep-first-occurrence explicitly via the indexed list_filter.
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_lines,
           CAST(len(list_filter(l, (x, i) -> list_position(l, x) = i))
               AS BIGINT) AS n_kept_lines,
           COALESCE(array_to_string(
               list_filter(l, (x, i) -> list_position(l, x) = i), ' '), '')
               AS cleaned_text
    FROM t
    """,
    tags=("dedup", "text", "curation", "ext"),
)
def q_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-unit removal (the Dolma/RefinedWeb
    WITHIN-doc dedup stage — keep each repeated unit's first occurrence in
    order, rebuild the doc): the intra-doc complement to the cross-corpus
    paragraph/C4 stages. The synthetic corpus has no repeated ' the '-
    separated segments, so the registry form runs at TOKEN granularity
    where repetition is dense (55 -> ~30 units/doc); production runs it
    with sep='\\n'. One linear in-row pass (array_distinct keeps first
    occurrences in document order), zero shuffles, scan speed at any
    corpus size; the oracle replays keep-first with an indexed
    list_filter, pinning Spark's array_distinct ordering."""
    from ..functions.text import dedup_lines_within_doc

    docs = load_table(spark, sf_dir, "documents")
    d = dedup_lines_within_doc(F.col("text"), sep=" ")
    return docs.select(
        "doc_id",
        d["n_lines"].alias("n_lines"),
        d["n_kept_lines"].alias("n_kept_lines"),
        d["cleaned_text"].alias("cleaned_text"),
    )


def _install_c4_query() -> None:
    from ..functions.text import c4_line_filters, c4_line_filters_oracle_sql

    # The synthetic corpus has no newlines or punctuation, so the C4 rules
    # are instantiated on corpus-appropriate stand-ins (the q_dedup_paragraphs
    # precedent): ' the ' separates "lines", a line is terminal when it ends
    # in one of the frequent closing tokens, 'dup' plays Javascript's role in
    # the line blocklist and the bigram 'slow slow' plays "lorem ipsum" in
    # the page blocklist. Chosen so every rule fires on real rows at sf0.01
    # (301/500 docs kept; ~0.95 kept lines/doc).
    _C4 = dict(
        sep=" the ",
        terminal_re="(join|hash|row|scan|value|table|key|agg|column|filter|order|data)$",
        min_words_per_line=3,
        line_blocklist=("dup",),
        doc_blocklist=("slow slow",),
        min_kept_lines=1,
    )

    @register(
        "q_quality_c4_lines",
        oracle=c4_line_filters_oracle_sql(**_C4),
        tags=("text", "curation", "ext"),
    )
    def q_quality_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
        """C4 line-level cleaning (Raffel et al. 2020 §2.2): keep lines
        ending in a terminal mark with >= min words and no blocklist
        phrase; keep documents with >= min surviving lines and no
        page-blocklist phrase; rebuild each document from its surviving
        lines in order. The line-level complement to the document-level
        Gopher rules: one in-row expression tree over the split-once line
        array (filter lambda + array_join), whole-stage codegen, zero
        shuffles — the stage runs at scan speed at any corpus size, and
        exact integer counts + deterministic rebuilt text make the DuckDB
        oracle hash-exact."""
        docs = load_table(spark, sf_dir, "documents")
        c = c4_line_filters(F.col("text"), **_C4)
        return docs.select(
            "doc_id",
            c["n_lines"].alias("n_lines"),
            c["n_kept_lines"].alias("n_kept_lines"),
            c["kept_text"].alias("kept_text"),
            c["keep_doc"].alias("keep_doc"),
        )


_install_c4_query()


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens
    FROM documents
    """,
    tags=("text", "ext"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        regex_token_count(F.col("text")).alias("n_re_tokens"),
    )


@register(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(
                   CAST(0 AS BIGINT),
                   list_transform(
                       range(1, least(length(text), {FINGERPRINT_PREFIX}) + 1),
                       i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)
                   )
               ),
               (acc, x) -> (acc * {FINGERPRINT_BASE} + x) % {FINGERPRINT_MOD}
           ) AS fp
    FROM documents
    """,
    tags=("text", "ext"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint — exact integer arithmetic,
    engine-independent."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "q_text_tfidf_top_term",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf_counts AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY 1, 2
    ),
    df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf_counts.doc_id, tf_counts.term, tf_counts.tf, df.df,
               tf_counts.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
        FROM tf_counts JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tf AS top_tf, df AS top_df,
           CAST(floor(tfidf * 10000) AS BIGINT) AS top_tfidf_q4
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) = 1
    """,
    tags=("text", "ext", "tfidf"),
)
def q_text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring (north star `tfidf`): explode → tf per (doc, term),
    df per term, idf = ln((N+1)/(df+1)); emits each document's top term.
    All-builtin (explode + two hash aggs + broadcast joins).

    Hash-exactness: Java Math.log and DuckDB's libm ln differ by 1 ulp on
    some inputs, so the raw double score cannot be hashed (module float
    policy). The hashed columns are exact integers: tf, df, and the score
    floor-quantized to 1e-4 (verified at sf0.001/0.01/0.1 that no score
    sits within 5e-4 grid units of a floor boundary, so a 1-ulp flip can
    never change the quantized value). Ranking still uses the raw double;
    every observed top-2 tie comes from an identical (tf, df) pair, which
    both engines score bit-identically, so the term-ASC tie-break is
    cross-engine stable."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("term").alias("top_term"),
            F.col("tf").alias("top_tf"),
            F.col("df").alias("top_df"),
            F.floor(F.col("tfidf") * 10000).alias("top_tfidf_q4"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_metadata",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
    tags=("multimodal", "ext"),
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary multimodal columns carried through relational ops: payload
    byte length + content digest + typed media metadata (north star
    `multimodal_columns`)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = assets_from_documents(docs)
    return assets.select(
        "asset_id",
        "media_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )


@register("q_multimodal_features", oracle=None, tags=("multimodal", "ext"))
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic byte-level stand-in for the stubbed codec decode)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(assets_from_documents(docs))
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        "mean_byte",
        F.array_join(F.transform("byte_histogram", lambda x: x.cast("string")), ",").alias(
            "histogram_csv"
        ),
    )


@register(
    "q_multimodal_frame_sample",
    oracle="""
    WITH assets AS (
        -- DuckDB substring works on VARCHAR only; documents.text is pure
        -- ASCII at every SF (asserted by the paired Spark/oracle hash), so
        -- char slicing equals the byte slicing the Spark side performs.
        SELECT doc_id AS asset_id, text AS payload
        FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
        SELECT asset_id, payload,
               unnest(range(0,
                            CAST(ceil(octet_length(encode(payload)) / 64.0) AS BIGINT),
                            4)) AS frame_idx
        FROM assets
    )
    SELECT asset_id,
           frame_idx,
           CAST(length(substring(payload, frame_idx * 64 + 1, 64)) AS BIGINT)
               AS frame_len,
           sha256(substring(payload, frame_idx * 64 + 1, 64)) AS frame_sha256
    FROM frames
    """,
    tags=("multimodal", "ext", "udf"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads (north star `multimodal_columns`,
    decode/frame-sample stage): every 4th 64-byte pseudo-frame of each
    video-typed asset, one row per sampled frame with its digest — the
    row-expanding mapInPandas shape a real ffmpeg keyframe extractor uses.
    The DuckDB oracle reproduces the slicing with blob substring + sha256,
    so the Arrow plumbing is value-hash-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    assets = assets_from_documents(docs).filter(F.col("media_type") == "video/mp4")
    return sample_frames(assets, frame_bytes=64, every=4)


@register("q_multimodal_resize", oracle=None, tags=("multimodal", "ext", "udf"))
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample stage for image payloads: area-pool the byte signal
    into 16 exact integer (sum, len) buckets per asset (rows-only — the
    bucket arithmetic is pinned against a pure-Python model in
    tests/test_extensions.py; arrays are emitted as CSV strings so the
    output is schema-stable for the rows-only check)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = assets_from_documents(docs).filter(F.col("media_type") == "image/png")
    resized = resize_signal(assets)
    as_csv = lambda c: F.array_join(F.transform(c, lambda x: x.cast("string")), ",")  # noqa: E731
    return resized.select(
        "asset_id",
        "orig_bytes",
        as_csv("bucket_sums").alias("bucket_sums_csv"),
        as_csv("bucket_lens").alias("bucket_lens_csv"),
    )


@register(
    "q_multimodal_decode_image",
    oracle="""
    SELECT d.doc_id AS asset_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(SUM(CASE WHEN t.i % 3 = 0 THEN (d.doc_id * 31 + t.i * 17) % 256 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN t.i % 3 = 1 THEN (d.doc_id * 31 + t.i * 17) % 256 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN t.i % 3 = 2 THEN (d.doc_id * 31 + t.i * 17) % 256 END) AS BIGINT) AS sum_b
    FROM documents d, generate_series(0, 191) AS t(i)
    GROUP BY d.doc_id
    """,
    tags=("multimodal", "ext", "udf"),
)
def q_multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path (r13, VERDICT r12 #2): every document gets a
    genuine binary-PPM (P6) payload — pixel i is the arithmetic rule
    (doc_id*31 + i*17) mod 256, encoded by `encode_ppm` — and the features
    (width, height, exact per-channel sums) are computed from the array
    `decode_ppm`'s REAL header parse returns, not from raw payload bytes.
    The oracle replays the pixel rule directly, so a hash match certifies
    the whole encode -> binary column -> decode -> feature chain: any
    header mis-parse, channel swap, or offset error shifts a sum.
    Operators: `…/operators/multimodal.py` synthetic_image_assets /
    decode_ppm / decoded_image_features."""
    from ..operators.multimodal import decoded_image_features, synthetic_image_assets

    docs = load_table(spark, sf_dir, "documents")
    return decoded_image_features(synthetic_image_assets(docs))


@register(
    "q_multimodal_decode_audio",
    oracle="""
    SELECT d.doc_id AS asset_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(256 AS BIGINT) AS n_samples,
           CAST(SUM((d.doc_id * 7 + t.i * 13) % 65536 - 32768) AS BIGINT) AS sum_sample,
           CAST(MIN((d.doc_id * 7 + t.i * 13) % 65536 - 32768) AS BIGINT) AS min_sample,
           CAST(MAX((d.doc_id * 7 + t.i * 13) % 65536 - 32768) AS BIGINT) AS max_sample
    FROM documents d, generate_series(0, 255) AS t(i)
    GROUP BY d.doc_id
    """,
    tags=("multimodal", "ext", "udf"),
)
def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path (r13): every document gets a genuine RIFF/WAVE
    PCM-16 mono payload — sample i is ((doc_id*7 + i*13) mod 65536) - 32768,
    encoded by `encode_wav` with a canonical 44-byte header — and the
    features come from `decode_wav`'s REAL chunk walk: sample_rate is read
    out of the parsed fmt chunk (a constant in the oracle, so a header
    corruption flips the hash) and sum/min/max are exact integer functions
    of the decoded int16 array. Operators: `…/operators/multimodal.py`
    synthetic_audio_assets / decode_wav / decoded_audio_features."""
    from ..operators.multimodal import decoded_audio_features, synthetic_audio_assets

    docs = load_table(spark, sf_dir, "documents")
    return decoded_audio_features(synthetic_audio_assets(docs))


@register(
    "q_text_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    tok AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(t), 1)),
                   i -> array_to_string(t[i:i+1], ' ')))) AS tok
        FROM toks
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.05
    """,
    tags=("dedup", "text", "ext"),
)
def q_text_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-BIGRAM (2-shingle) Jaccard pairs (north star `n-gram Jaccard`):
    same inverted-index plan as q_text_jaccard_pairs but over order-
    preserving shingles, so reordered-but-same-vocabulary docs — which score
    1.0 on unigram sets — score near zero here. The corpus's near-dups are
    word-scrambled, hence the low 0.05 threshold: this query surfaces the
    partial-phrase-overlap band the unigram operator cannot see."""
    from ..functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_exact(
        docs, threshold=0.05, tokens_fn=lambda c: word_shingles(c, 2)
    )


@register(
    "q_join_salted_skew",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_type,
               CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS type_total
        FROM events
        GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, s.n_type, s.type_total
    FROM events e JOIN stats s USING (event_type)
    """,
    tags=("join", "skew", "ext"),
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join on a pathologically skewed key: events.event_type
    has ~5 distinct values, so a plain shuffle join lands each type's entire
    fact slice in ONE task. salted_join spreads every type over 8 salt
    partitions (operators/skew.py); the oracle is the plain join — salting
    must be invisible in the result. tests/test_plans.py pins the shape:
    the exchange partitions on (event_type, _salt) and no broadcast."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n_type"),
        F.sum(F.col("value").cast("decimal(9,2)")).cast("double").alias("type_total"),
    )
    return salted_join(events, stats, "event_type", "event_id", n_salts=8).select(
        "event_id", "event_type", "n_type", "type_total"
    )


@register(
    "q_corpus_curation",
    oracle=None,  # installed below (composes the generated langid scoring SQL)
    tags=("text", "dedup", "ext", "pipeline"),
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the composed pipeline a training-data
    run executes as ONE declarative plan: quality scoring → threshold filter
    → language-ID filter → canonical-token-set dedup with survivor flag.
    Catalyst fuses all three scalar stages into the scan projection (no
    Python anywhere), and the only shuffle is the dedup window on the
    canonical key. Each stage is also oracle-checked standalone
    (q_text_quality / q_text_langid / q_dedup_canonical); this query proves
    the COMPOSITION is hash-exact too. The library pipeline behind it
    (operators/curation.py) also offers a near-dup stage with the
    max_token_df skew cap ON BY DEFAULT — exercised with its lower-bound
    semantics in tests/test_extensions.py; omitted here to keep this query
    SQL-oracle-exact."""
    from ..operators.curation import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(docs, quality_threshold=0.6, langs=("en", "de"))


def _install_curation_oracle() -> None:
    from .registry import REGISTRY, QuerySpec

    aliases, case = langid_oracle_sql("text")
    sql = f"""
    WITH q AS (
        SELECT doc_id, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' '))) * 0.5
                 + (1 - CAST(len(list_filter(string_split(text, ' '),
                        x -> list_contains([{_STOP_LITS}], x))) AS DOUBLE)
                      / len(string_split(text, ' '))) * 0.3
                 + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.2
                   AS quality_score
        FROM documents
    ),
    l AS (
        SELECT doc_id, {case} AS lang_pred
        FROM (SELECT doc_id, {aliases} FROM documents) scored
    ),
    base AS (
        SELECT q.doc_id, q.text, q.n_tokens, q.quality_score, l.lang_pred
        FROM q JOIN l ON q.doc_id = l.doc_id
        WHERE q.quality_score >= 0.6 AND l.lang_pred IN ('en', 'de')
    )
    SELECT doc_id, lang_pred, n_tokens, quality_score,
           CAST(doc_id = MIN(doc_id) OVER (PARTITION BY
                array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS BOOLEAN) AS is_kept
    FROM base
    """
    spec = REGISTRY["q_corpus_curation"]
    REGISTRY["q_corpus_curation"] = QuerySpec(
        name=spec.name,
        spark_fn=spec.spark_fn,
        oracle=sql,
        headline=spec.headline,
        tags=spec.tags,
        doc=spec.doc,
    )


_install_curation_oracle()


@register(
    "q_text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
           FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           round(MAX(c) * 1.0 / SUM(c), 4) AS top_bigram_frac,
           round(COUNT(*) * 1.0 / SUM(c), 4) AS distinct_bigram_ratio
    FROM cnt
    GROUP BY doc_id
    """,
    tags=("text", "ext"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document (north star text-analysis, the
    Gopher/RefinedWeb "repetitious text" family): fraction of all bigrams
    taken by the single most frequent bigram, and the distinct/total bigram
    ratio. High `top_bigram_frac` or low `distinct_bigram_ratio` flags
    boilerplate and generate-loop text that TTR alone misses (TTR sees
    tokens, not adjacency).

    Scale shape: bigrams are built inside the row with an indexed
    `transform` over the token array (pure codegen, no self-join), then two
    hash aggregations — (doc_id, bigram) then (doc_id) — both map-side
    combinable. Nothing global: the widest shuffle key is (doc_id, bigram),
    which is near-unique, so AQE coalesces it freely at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.expr(
            "transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1]))"
        ).alias("bigrams"),
    )
    counts = (
        bigrams.select("doc_id", F.explode("bigrams").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .count()
    )
    return counts.groupBy("doc_id").agg(
        F.sum("count").alias("n_bigrams"),
        F.round(F.max("count") / F.sum("count"), 4).alias("top_bigram_frac"),
        F.round(F.count(F.lit(1)) / F.sum("count"), 4).alias("distinct_bigram_ratio"),
    )


@register(
    "q_text_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           i AS chunk_id,
           array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text,
           CAST(least(n - i * 48, 64) AS BIGINT) AS n_tokens
    FROM toks,
         unnest(generate_series(0,
             CAST(ceil(greatest(n - 16, 1) / 48.0) AS BIGINT) - 1)) AS g(i)
    """,
    tags=("text", "chunking", "ext"),
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (north star `chunk_tokens`): 64-token chunks
    with 16-token overlap per document — the split a context-window-bounded
    trainer consumes. Chunks are built inside the row (sequence + indexed
    transform + posexplode, all codegen, zero shuffles); content equality is
    oracle-checked chunk-for-chunk including the overlap regions."""
    from ..operators.chunking import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, chunk_size=64, overlap=16).select(
        "doc_id", "chunk_id", "chunk_text", "n_tokens"
    )


@register(
    "q_pack_greedy",
    oracle="""
    WITH c AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT lang, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
                    AS BIGINT) AS bin_id
        FROM c
    )
    SELECT lang, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM b
    GROUP BY lang, bin_id
    """,
    tags=("text", "chunking", "ext"),
)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (north star `pack_greedy`): deterministic
    offset-based assignment of documents to 256-token bins, packed WITHIN
    each language shard — per-shard running-sum window (the sort
    distributes across shards; training jobs shard anyway), then the bin
    census. Every engine re-derives identical bins because assignment is a
    pure function of (shard, order, sizes)."""
    from ..operators.chunking import pack_greedy

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    packed = pack_greedy(
        sized, F.col("n_tokens"), F.col("doc_id"), 256, shard_col=F.col("lang")
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


@register(
    "q_text_decontaminate",
    oracle="""
    WITH bt AS (
        SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0
    ),
    bg AS (
        SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM bt, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    dt AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id % 97 <> 0
    ),
    dg AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM dt, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
    FROM dg JOIN bg USING (gram)
    GROUP BY doc_id
    """,
    tags=("text", "decontam", "ext"),
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination evidence (north star `contamination_counts`):
    per-document count of distinct eval-set n-grams it contains — the
    test-set-leakage guard a training pipeline runs before every corpus
    release (GPT-3/Llama-style n-gram overlap). Here the "benchmark" is the
    doc_id % 97 == 0 slice of the corpus and n=3 (the synthetic corpus is
    word soup, so published 13-grams never collide); the production call is
    identical with a real eval set and n=13.

    Scale shape: benchmark grams are hashed to longs and BROADCAST; corpus
    grams are built in-row and probe the broadcast map — corpus rows are
    never shuffled, the only exchange is the per-doc count aggregate over
    matched pairs. The oracle joins on gram STRINGS; the Spark side joins on
    xxhash64(gram) (2^-64 collision odds), and both must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_counts(corpus, bench, n=3)


def _pii_augment(doc_id: F.Column, text: F.Column) -> F.Column:
    """Deterministically splice synthesizable PII into the synthetic corpus
    (which is PII-free word soup) so the redaction query exercises every
    pattern with nonzero counts; the SQL twin replays the same splice."""
    return F.concat(
        text,
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@mail.example.com ip 10.2."),
        (doc_id % 256).cast("string"),
        F.lit(".15 tel +1 555 0100 "),
        doc_id.cast("string"),
    )


_PII_AUGMENT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com ip 10.2.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.15 tel +1 555 0100 ' || CAST(doc_id AS VARCHAR)"
)


def _redact_oracle() -> str:
    from ..functions.text import redact_pii_oracle_sql

    counts, redacted = redact_pii_oracle_sql(f"({_PII_AUGMENT_SQL})")
    return f"""
    SELECT doc_id,
        {counts},
        {redacted}
    FROM documents
    """


@register(
    "q_text_redact_pii",
    oracle=_redact_oracle(),
    tags=("text", "redact", "ext"),
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (north star `redact_pii`): emails, IPv4s, and phone-ish
    digit runs replaced by typed placeholders with per-kind counts — the
    pre-release scrub a training corpus gets. All regexp_replace/extract
    codegen in the Java∩RE2 regex subset, so the DuckDB oracle replays the
    patterns VERBATIM (including the priority order: ipv4 is consumed
    before the phone pattern could half-eat it). The synthetic corpus has
    no organic PII, so both sides splice the same deterministic PII into
    each document first."""
    from ..functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    parts = redact_pii(_pii_augment(F.col("doc_id"), F.col("text")))
    return docs.select(
        "doc_id",
        parts["n_email"].alias("n_email"),
        parts["n_ipv4"].alias("n_ipv4"),
        parts["n_phone"].alias("n_phone"),
        parts["redacted"].alias("redacted"),
    )


@register(
    "q_text_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM tok GROUP BY token
    )
    SELECT token, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token)
                AS BIGINT) AS rank,
           CAST(SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             / CAST(SUM(n_occurrences) OVER () AS BIGINT) AS cum_frac
    FROM counts
    QUALIFY rank <= 100
    """,
    tags=("text", "vocab", "ext"),
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building (north star `build_vocab`): top-100 tokens by
    corpus frequency with rank and cumulative occurrence coverage — the
    curve a tokenizer-budget decision reads. The corpus-wide phase is one
    explode + partial-agg count shuffle of (token, count) pairs; the
    rank/coverage window runs on the tiny vocab table (single bounded
    partition BY DESIGN — coverage is a prefix sum in global frequency
    order). cum_frac is a raw double quotient of identical longs on both
    engines (float policy)."""
    from ..operators.vocab import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, top_k=100)


def _hybrid_rrf_oracle() -> str:
    """Composed oracle: the generated BM25 top-20 (same constants as
    q_bm25_topk) and the brute-force cosine top-20 for query vector 0,
    fused by quantized reciprocal-rank contributions — every fragment
    shared with its standalone oracle so stage drift is impossible."""
    from ..operators.ranking import bm25_oracle_sql
    from .analytics import BM25_TERMS

    bm25 = bm25_oracle_sql(BM25_TERMS, k=20)
    return f"""
    WITH lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score_q DESC, doc_id)
                    AS BIGINT) AS rk
        FROM ({bm25}) b
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS vn FROM e),
    sem0 AS (
        SELECT c.vec_id AS doc_id,
               CAST(row_number() OVER (
                   ORDER BY {_dot_sql('c.v', 'q.v')} / (c.vn * q.vn) DESC,
                            c.vec_id) AS BIGINT) AS rk
        FROM n c, n q WHERE q.vec_id = 0 AND c.vec_id != 0
    ),
    sem AS (SELECT doc_id, rk FROM sem0 WHERE rk <= 20),
    contrib AS (
        SELECT doc_id,
               CAST(floor(1000000000.0 * (1.0 / (60.0 + rk))) AS BIGINT) AS c
        FROM lex
        UNION ALL
        SELECT doc_id,
               CAST(floor(1000000000.0 * (1.0 / (60.0 + rk))) AS BIGINT) AS c
        FROM sem
    ),
    fused AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_q,
               CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, rrf_q, n_lists,
           CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id)
                AS BIGINT) AS rrf_rank
    FROM fused
    QUALIFY rrf_rank <= 10
    """


@register(
    "q_hybrid_rrf_topk",
    oracle=_hybrid_rrf_oracle(),
    tags=("ranking", "similarity", "hybrid", "ext"),
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (north star
    `operators/ranking.rrf_fuse`, r08): fuse the BM25 lexical top-20
    (q_bm25_topk's 4-term query) with the embedding-cosine top-20 for
    query vector 0 — the standard RAG pattern that needs no score
    calibration because only ranks enter ``sum 1/(60 + rank)``. The
    documents and embeddings tables share the 0..N-1 id space, so
    vec_id IS the doc id. Each contribution quantizes to the 1e9 grid
    before the per-doc sum (order-independent integer arithmetic; a
    single IEEE division per term, no transcendentals — no margin pin
    needed); fusion + ranking run on list-sized data BY DESIGN."""
    from ..operators.ranking import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk
    from .analytics import BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_TERMS, k=20)
    lex_rank = Window.orderBy(F.col("score_q").desc(), "doc_id")
    lex_r = lex.select(
        "doc_id", F.row_number().over(lex_rank).cast("bigint").alias("rk")
    )
    sem = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("vec_id").alias("doc_id"), "rk"
    )
    return rrf_fuse([lex_r, sem], k=10)


@register(
    "q_token_kl_divergence",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        WHERE text IS NOT NULL
    ),
    c AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY lang, token
    ),
    g AS (SELECT token, CAST(SUM(c) AS BIGINT) AS g FROM c GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM c),
    ng AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ng FROM c GROUP BY lang),
    terms AS (
        SELECT c.lang, c.c,
               CAST(floor(1000000.0 * (
                   ((c.c + 1) / (ng.ng + tot.v))
                   * ln(((c.c + 1) / (ng.ng + tot.v))
                        / ((g.g + 1) / (tot.n + tot.v)))
               )) AS BIGINT) AS t
        FROM c JOIN g ON c.token = g.token JOIN ng ON c.lang = ng.lang, tot
    )
    SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_in_group,
           CAST(SUM(t) AS BIGINT) AS kl_q_sum
    FROM terms GROUP BY lang
    """,
    tags=("text", "vocab", "quality", "ext"),
)
def q_token_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-distribution drift census (north star
    `token_kl_divergence`, r08): add-1-smoothed KL of each language's
    unigram distribution from the whole corpus — the content-shape
    drift signal a crawl pipeline alerts on (the histogram audit sees
    length shape; this sees WHAT the tokens are). One corpus pass: the
    (lang, token) count table feeds the global counts via a per-token
    window, the totals/joint-vocab via bounded global windows, and each
    token's p*ln(p/q) contribution floor-quantizes to a 1e-6 integer grid
    before the distributed sum (the unigram_nll discipline — integer
    sums are order-independent and oracle-hashable; grid-boundary margins
    pinned in tests/test_extensions.py)."""
    from ..operators.vocab import token_kl_divergence

    docs = load_table(spark, sf_dir, "documents")
    return token_kl_divergence(docs, group_col="lang")


@register(
    "q_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, token
    ),
    terms AS (
        SELECT source, c,
               CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS ng
        FROM c
    ),
    q AS (
        SELECT source, c, ng,
               CAST(floor(1000000.0
                   * (CAST(c AS DOUBLE) / CAST(ng AS DOUBLE))
                   * ln(CAST(ng AS DOUBLE) / CAST(c AS DOUBLE))
               ) AS BIGINT) AS t
        FROM terms
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(CAST(SUM(t) AS DOUBLE) / 1000000.0, 6) AS entropy,
           ROUND(CASE WHEN COUNT(*) > 1
                      THEN (CAST(SUM(t) AS DOUBLE) / 1000000.0)
                           / ln(CAST(COUNT(*) AS DOUBLE))
                 END, 6) AS entropy_norm
    FROM q GROUP BY source
    """,
    tags=("text", "vocab", "quality", "ext"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution Shannon entropy census (north star
    `token_entropy_per_key`, r10): the corpus-DIVERSITY audit beside
    `q_source_concentration`'s mass audit — a source whose entropy
    collapses is emitting templated/boilerplate text even when its volume
    share looks healthy. One corpus pass (explode + map-side-combined
    (source, token) census); per-token terms floor-quantize to the 1e-6
    integer grid before the distributed sum (the unigram_nll ln lane —
    order/partition-invariant, grid-boundary margins pinned per SF);
    normalized entropy (H / ln V, NULL at V=1) rounds two exact-integer-
    derived doubles."""
    from ..operators.vocab import token_entropy_per_key

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return token_entropy_per_key(docs, group_col="source")


@register(
    "q_quality_classifier",
    oracle=None,
    tags=("text", "quality", "ml", "ext"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (north star `operators/mlquality`, r08;
    the GPT-3/CCNet classifier stage): train logistic regression on
    hashed bag-of-words with the benchmark slice (doc_id % 97 == 0) as
    the curated SEED and a deterministic hash-sample of the rest as raw
    crawl, score every document, apply the derandomized Pareto keep rule,
    and return the quality-probability decile census of kept vs dropped —
    a bounded report the scheduler logs. NO SQL ORACLE by design: MLlib's
    L-BFGS is iterative (float accumulation order varies with
    partitioning), the same rows-only category as q_dedup_minhash_lsh;
    the pinned properties (AUC on separable data, deterministic refit,
    holdout separation, no-Python scoring plan) live in
    tests/test_extensions.py."""
    from ..operators.mlquality import (
        fit_quality_classifier,
        pareto_keep,
        score_quality,
    )
    from ..operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    pos = docs.filter(F.col("doc_id") % 97 == 0)
    neg = hash_sample(
        docs.filter(F.col("doc_id") % 97 != 0), F.col("doc_id"), 0.2
    )
    model = fit_quality_classifier(pos, neg, num_features=1 << 16)
    scored = score_quality(docs, model)
    return (
        scored.withColumn(
            "kept", pareto_keep(F.col("quality_prob"), F.col("doc_id"))
        )
        .groupBy(
            F.floor(F.col("quality_prob") * 10).cast("bigint").alias("decile"),
            "kept",
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("decile", "kept")
    )


def _pipeline_oracle() -> str:
    """Composite oracle for q_pipeline_end_to_end, assembled from the SAME
    generated fragments the stage-level oracles use (snapshot/delta bucket
    thresholds, redaction pattern chain, langid scoring CASE, stopword
    literals, split CASE), so stage drift is impossible."""
    from ..functions.text import langid_oracle_sql, redact_pii_oracle_sql
    from ..operators.sampling import hex_threshold, split_case_sql
    from .sampling import SPLITS

    aliases, case = langid_oracle_sql("text")
    split_case = split_case_sql("doc_id", SPLITS)
    t10, t90 = hex_threshold(0.1), hex_threshold(0.9)
    bucket = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    _, redacted = redact_pii_oracle_sql(f"({_PII_AUGMENT_SQL})")
    return f"""
    WITH y AS (
        SELECT doc_id, text FROM documents WHERE {bucket} < '{t90}'
    ),
    t AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE {bucket} >= '{t10}'
    ),
    delta AS (
        SELECT COALESCE(y.doc_id, t.doc_id) AS doc_id,
               CASE WHEN y.doc_id IS NOT NULL AND t.doc_id IS NOT NULL THEN
                        CASE WHEN y.text IS NOT DISTINCT FROM t.text
                             THEN 'unchanged' ELSE 'changed' END
                    WHEN t.doc_id IS NOT NULL THEN 'added'
                    ELSE 'removed' END AS status
        FROM y FULL OUTER JOIN t ON y.doc_id = t.doc_id
    ),
    inc AS (
        SELECT t.doc_id, t.text FROM t
        JOIN delta ON t.doc_id = delta.doc_id
        WHERE delta.status IN ('added', 'changed') AND t.doc_id % 97 <> 0
    ),
    seen AS (SELECT DISTINCT text FROM y),
    dd AS (
        SELECT i.doc_id, i.text FROM inc i
        LEFT JOIN seen s ON i.text = s.text
        WHERE s.text IS NULL
        QUALIFY i.doc_id = MIN(i.doc_id) OVER (PARTITION BY i.text)
    ),
    ygrams AS (
        SELECT DISTINCT array_to_string(list_slice(s.toks, i, i + 7), ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS toks FROM y
              WHERE text IS NOT NULL) s,
             unnest(generate_series(1, len(s.toks) - 7)) AS u(i)
        WHERE len(s.toks) >= 8
    ),
    ddt AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM dd
        WHERE text IS NOT NULL
    ),
    dg AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
        FROM ddt, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        WHERE len(toks) >= 8
    ),
    spanflag AS (
        SELECT dg.doc_id, dg.pos,
               (ygrams.gram IS NOT NULL) AS hit,
               ROW_NUMBER() OVER (PARTITION BY dg.gram
                                  ORDER BY dg.doc_id, dg.pos) AS rn
        FROM dg LEFT JOIN ygrams ON dg.gram = ygrams.gram
    ),
    spancov AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM spanflag, unnest(generate_series(0, 7)) AS u(j)
        WHERE hit OR rn > 1
    ),
    ddtok AS (
        SELECT doc_id, i - 1 AS tpos, toks[i] AS token
        FROM ddt, unnest(generate_series(1, len(toks))) AS s(i)
    ),
    spansurv AS (
        SELECT ddtok.doc_id,
               string_agg(ddtok.token, ' ' ORDER BY ddtok.tpos) AS text
        FROM ddtok
        LEFT JOIN spancov
          ON ddtok.doc_id = spancov.doc_id AND ddtok.tpos = spancov.cpos
        WHERE spancov.doc_id IS NULL
        GROUP BY ddtok.doc_id
    ),
    spans AS (
        SELECT ddt.doc_id, COALESCE(spansurv.text, '') AS text
        FROM ddt LEFT JOIN spansurv ON ddt.doc_id = spansurv.doc_id
    ),
    bt AS (
        SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0
    ),
    bg AS (
        SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM bt, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    clean AS (
        SELECT * FROM spans c WHERE NOT EXISTS (
            SELECT 1 FROM bg,
                 unnest(generate_series(1,
                     greatest(len(string_split(c.text, ' ')) - 2, 0))) AS g(i)
            WHERE array_to_string(
                      list_slice(string_split(c.text, ' '), i, i + 2), ' ') = bg.gram
        )
    ),
    red AS (
        SELECT doc_id, {redacted} FROM clean
    ),
    redtxt AS (SELECT doc_id, redacted AS text FROM red),
    scored AS (
        SELECT doc_id, text,
               (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' '))) * 0.5
                 + (1 - CAST(len(list_filter(string_split(text, ' '),
                         x -> list_contains([{_STOP_LITS}], x))) AS DOUBLE)
                    / len(string_split(text, ' '))) * 0.3
                 + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.2
                   AS quality_score,
               {aliases}
        FROM redtxt
    ),
    filtered AS (
        SELECT doc_id, text FROM scored
        WHERE quality_score >= 0.6 AND ({case}) IN ('en', 'de')
    ),
    labeled AS (
        SELECT doc_id, text, {split_case} AS split FROM filtered
    ),
    toks AS (
        SELECT split, doc_id, len(string_split(text, ' ')) AS n FROM labeled
    ),
    chunks AS (
        SELECT split, doc_id, i AS chunk_id,
               CAST(least(n - i * 48, 64) AS BIGINT) AS n_tokens
        FROM toks,
             unnest(generate_series(0,
                 CAST(ceil(greatest(n - 16, 1) / 48.0) AS BIGINT) - 1)) AS g(i)
    ),
    packed AS (
        SELECT split, doc_id, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY split
                         ORDER BY doc_id * 1048576 + chunk_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
                    AS BIGINT) AS bin_id
        FROM chunks
    )
    SELECT split,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY split
    """


@register(
    "q_pipeline_end_to_end",
    oracle=_pipeline_oracle(),
    tags=("pipeline", "ext", "composite"),
)
def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as one declarative Spark plan — now
    the DAILY-maintenance variant (VERDICT r05 #6): corpus snapshot delta
    (yesterday vs today, digest-keyed full-outer join) → incremental dedup
    of the added/changed increment against yesterday's digest side-table
    (plus within-batch keep-first — the exact-dedup stage in its
    incremental form) → incremental SUBSTRING-SPAN dedup of the kept
    increment against yesterday's GRAM-digest side table (VERDICT r07 #6:
    whole-document dedup misses partially-duplicated text; any >= 8-token
    span already in yesterday's corpus, or duplicated earlier in the
    batch, is stripped in-place) → benchmark decontamination (3-gram
    broadcast probe) → PII redaction (chained regexp_replace codegen,
    before quality scoring) → quality + language filter (scan-fused) →
    deterministic train/val/test split → token-window chunking (in-row
    explode) → per-split greedy packing (one running-sum window per shard)
    → per-split census. Nine stages, every one an operator the registry
    proves individually; the composite is hash-exact against a DuckDB
    oracle assembled from the same generated SQL fragments.

    Scale shape: the delta/dedup prologue shuffles (id, digest, presence)
    triples and the increment's digests — never corpus text (daily cost ∝
    delta, not corpus); the span stage's probe is gram-digest-keyed
    against a side table the pipeline maintains (bucketed on the digest in
    production so the corpus-scale side never shuffles — here derived from
    yesterday's text because the composite is self-contained); then one
    broadcast probe + one window shuffle + one per-shard packing sort +
    one census aggregate — the scan-side stages (redaction, scoring,
    langid, split, chunking) all fuse. The packing order key is
    doc_id * 2^20 + chunk_id (unique while documents stay under 2^20
    chunks — enforce upstream for a corpus of books)."""
    from ..functions.text import redact_pii
    from ..operators.chunking import chunk_tokens, pack_greedy
    from ..operators.decontam import decontaminate
    from ..operators.dedup import (
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )
    from ..operators.delta import corpus_delta, incremental_dedup
    from ..operators.sampling import hash_bucket, hex_threshold, split_column
    from .sampling import SPLITS

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    yesterday = docs.filter(bucket < F.lit(hex_threshold(0.9))).select(
        "doc_id", "text"
    )
    today = docs.filter(bucket >= F.lit(hex_threshold(0.1))).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    delta = corpus_delta(yesterday, today)
    increment = today.join(
        delta.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
    ).filter(F.col("doc_id") % 97 != 0)
    seen = yesterday.select(F.sha2(F.col("text"), 256).alias("digest"))
    # The deduped increment is the PROLOGUE's midpoint: the span stage
    # reads it twice (gram-occurrence stream + rebuild join). r14
    # (VERDICT r13 #4, guide §3.3 "very large plans: materialise an
    # intermediate"): localCheckpoint instead of the r13 cache — the
    # checkpoint serves both span-stage reads like the cache did AND
    # truncates the delta/full-outer-join/dedup prologue out of every
    # Catalyst pass over the span stage (a cached plan is still analyzed
    # in full under each consumer; a LogicalRDD is a leaf). Same-window
    # A/B at sf0.1 (3 interleaved pairs): composite wall 4.8-5.8 s ->
    # 4.1-5.0 s, the span-checkpoint build step 2.2-2.6 s -> 1.4-1.7 s,
    # rows identical. The blocks are retired explicitly right after the
    # span checkpoint materializes (they are dead from that point; the
    # r13 leak discipline).
    from ..session import retire, track_result_checkpoint

    dd = (
        incremental_dedup(increment, seen)
        .filter("is_kept")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    seen_grams = substring_gram_digests(yesterday, k=8)
    # The span-deduped increment is the composite's midpoint: everything
    # downstream (decontaminate -> redact -> quality -> split -> chunk ->
    # pack -> census) only needs its ROWS. localCheckpoint truncates the
    # analyzed plan here (r13 opt, guide §3.3), so Catalyst stops
    # re-walking the prologue under every downstream stage — and
    # decontaminate's two reads (gram probe + anti-join) hit materialized
    # blocks. Identical rows (a checkpoint is a pure materialization
    # barrier; oracle parity green). The block retires at the next query
    # boundary as a tracked handle.
    spans = track_result_checkpoint(
        dedup_substring_spans_incremental(dd, seen_grams, k=8)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    # dd's checkpoint fed exactly the two span-stage reads, both inside
    # the spans materialization above — retire it now, not at the next
    # query boundary.
    retire(dd)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    clean = decontaminate(spans, bench, n=3)
    red = clean.select(
        "doc_id",
        redact_pii(_pii_augment(F.col("doc_id"), F.col("text")))["redacted"].alias(
            "text"
        ),
    )
    m = quality_metrics(F.col("text"))
    filtered = red.filter(
        (m["quality_score"] >= 0.6) & langid(F.col("text")).isin("en", "de")
    )
    labeled = filtered.withColumn("split", split_column(F.col("doc_id"), SPLITS))
    chunks = chunk_tokens(labeled, chunk_size=64, overlap=16)
    packed = pack_greedy(
        chunks,
        F.col("n_tokens"),
        F.col("doc_id") * F.lit(1048576) + F.col("chunk_id"),
        256,
        shard_col=F.col("split"),
    )
    return packed.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _delta_oracle() -> str:
    from ..operators.sampling import hex_threshold

    lo, hi = hex_threshold(0.1), hex_threshold(0.9)
    return f"""
    WITH o AS (
        SELECT doc_id, text FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{hi}'
    ),
    n AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= '{lo}'
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL THEN
                    CASE WHEN o.text IS NOT DISTINCT FROM n.text
                         THEN 'unchanged' ELSE 'changed' END
                WHEN n.doc_id IS NOT NULL THEN 'added'
                ELSE 'removed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """


@register(
    "q_corpus_delta",
    oracle=_delta_oracle(),
    tags=("delta", "dedup", "ext"),
)
def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (north star `corpus_delta`): the change feed
    between yesterday's corpus and today's crawl — added / removed /
    changed / unchanged per doc id, computed from one digest-keyed
    full-outer join (the shuffle carries (id, digest, presence), never
    text — a two-snapshot diff at 100 TB moves bytes per doc). Snapshots
    are deterministically synthesized from the documents table (old =
    hash bucket < 0.9, new = bucket >= 0.1 with every 31st doc's text
    edited), so both engines replay the identical scenario; the oracle
    compares texts where Spark compares sha256 digests — identical
    verdicts by construction."""
    from ..operators.delta import corpus_delta
    from ..operators.sampling import hash_bucket, hex_threshold

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    old = docs.filter(bucket < F.lit(hex_threshold(0.9))).select("doc_id", "text")
    new = docs.filter(bucket >= F.lit(hex_threshold(0.1))).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus_delta(old, new)


def _apply_delta_oracle() -> str:
    from ..operators.sampling import hex_threshold

    t10, t90 = hex_threshold(0.1), hex_threshold(0.9)
    bucket = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    return f"""
    WITH old AS (
        SELECT doc_id, text FROM documents WHERE {bucket} < '{t90}'
    ),
    ups AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents
        WHERE {bucket} >= '{t90}' OR (doc_id % 31 = 0 AND {bucket} >= '{t10}')
    ),
    dels AS (
        SELECT doc_id FROM documents WHERE {bucket} < '{t10}'
    ),
    victims AS (
        SELECT doc_id FROM ups UNION SELECT doc_id FROM dels
    )
    SELECT doc_id, text FROM old
    WHERE doc_id NOT IN (SELECT doc_id FROM victims)
    UNION ALL
    SELECT doc_id, text FROM ups
    """


@register(
    "q_apply_delta",
    oracle=_apply_delta_oracle(),
    tags=("delta", "ext"),
)
def q_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a change feed into a snapshot (north star `apply_delta`, the
    inverse of `corpus_delta`): yesterday's snapshot plus today's
    upserts + deletes reconstructs today's snapshot. The scenario reuses
    q_corpus_delta's synthesized snapshots (old = bucket < 0.9; feed =
    inserts at bucket >= 0.9, edits on every 31st doc, deletes below
    bucket 0.1), so the output is exactly the 'new' snapshot both engines
    can independently derive — tests/test_extensions.py pins that
    round-trip identity. Scale: the victim-id set BROADCASTS, so the
    snapshot streams through a broadcast LEFT ANTI join with zero shuffle
    of corpus rows — the physical plan a MERGE INTO on a 100 TB table
    needs (pinned in tests/test_plans.py)."""
    from ..operators.delta import apply_delta
    from ..operators.sampling import hash_bucket, hex_threshold

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    t10, t90 = F.lit(hex_threshold(0.1)), F.lit(hex_threshold(0.9))
    old = docs.filter(bucket < t90).select("doc_id", "text")
    ups = docs.filter(
        (bucket >= t90) | ((F.col("doc_id") % 31 == 0) & (bucket >= t10))
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    dels = docs.filter(bucket < t10).select("doc_id")
    return apply_delta(old, ups, dels)


def _incremental_dedup_oracle() -> str:
    from ..operators.sampling import hex_threshold

    t40, t50, t60, t70 = (hex_threshold(r) for r in (0.4, 0.5, 0.6, 0.7))
    bucket = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    return f"""
    WITH seen AS (
        SELECT DISTINCT text FROM documents WHERE {bucket} < '{t50}'
    ),
    nd AS (
        SELECT doc_id, text FROM documents WHERE {bucket} >= '{t40}'
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text FROM documents
        WHERE {bucket} >= '{t60}' AND {bucket} < '{t70}'
    ),
    flagged AS (
        SELECT nd.doc_id, nd.text,
               (seen.text IS NOT NULL) AS dup_of_existing
        FROM nd LEFT JOIN seen ON nd.text = seen.text
    )
    SELECT doc_id, dup_of_existing,
           (NOT dup_of_existing)
             AND doc_id = MIN(doc_id) OVER (PARTITION BY text) AS is_kept
    FROM flagged
    """


@register(
    "q_incremental_dedup",
    oracle=_incremental_dedup_oracle(),
    tags=("delta", "dedup", "ext"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (north star `incremental_dedup`, VERDICT r05 #4):
    dedup a NEW batch against an existing corpus's digest side-table and
    within itself, without touching corpus text — the daily-maintenance
    path that replaces re-pairing the world. The existing corpus
    contributes only sha256 digests; the join and the within-batch
    keep-smallest-id window are digest-keyed, so at 100 TB corpus / 1 TB
    delta the shuffle carries the delta's digests, never corpus text.

    Scenario (deterministic in both engines): corpus = docs with hash
    bucket < 0.5 (digests only); new batch = docs with bucket >= 0.4 (the
    [0.4, 0.5) overlap re-submits already-seen text) plus a second copy of
    [0.6, 0.7) under shifted ids (within-batch duplicates — only the
    smaller id is kept). The oracle replays the scenario joining on raw
    text where Spark joins on sha256(text) — identical verdicts by
    construction (digest equality == byte equality)."""
    from ..operators.delta import incremental_dedup
    from ..operators.sampling import hash_bucket, hex_threshold

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    seen = (
        docs.filter(bucket < F.lit(hex_threshold(0.5)))
        .select(F.sha2(F.col("text"), 256).alias("digest"))
    )
    new_batch = docs.filter(bucket >= F.lit(hex_threshold(0.4))).select(
        "doc_id", "text"
    ).unionAll(
        docs.filter(
            (bucket >= F.lit(hex_threshold(0.6)))
            & (bucket < F.lit(hex_threshold(0.7)))
        ).select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    )
    return incremental_dedup(new_batch, seen).select(
        "doc_id", "dup_of_existing", "is_kept"
    )


@register(
    "q_oov_rate",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ),
    vocab AS (
        SELECT token FROM counts
        QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, token) <= 500
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_frac
    FROM tok LEFT JOIN vocab v ON tok.token = v.token
    GROUP BY tok.doc_id
    """,
    tags=("text", "vocab", "ext"),
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against a built vocabulary (north star
    `oov_rate`, VERDICT r05 #5): fraction of each document's token
    occurrences not in the top-500 corpus vocabulary. The vocab phase is
    the corpus-wide explode + count shuffle; the probe BROADCASTS the
    (small by construction) vocab and re-aggregates on doc_id, so corpus
    rows shuffle only as (id, counts) pairs — the coverage report a
    tokenizer-budget decision reads, at corpus scale."""
    from ..operators.vocab import build_vocab, oov_rate

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, top_k=500)
    return oov_rate(docs, vocab)


@register(
    "q_dedup_paragraphs",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' the ') AS ps
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT doc_id, i - 1 AS idx, ps[i] AS para
        FROM t, unnest(generate_series(1, len(ps))) AS g(i)
    ),
    kept AS (
        SELECT doc_id, idx FROM (
            SELECT doc_id, idx,
                   ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
            FROM p
        ) WHERE rn = 1
    )
    SELECT p.doc_id,
           string_agg(p.para, ' the ' ORDER BY p.idx) AS text,
           CAST(ANY_VALUE(len(t.ps)) AS BIGINT) AS n_paras,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM p
    JOIN kept ON p.doc_id = kept.doc_id AND p.idx = kept.idx
    JOIN t ON p.doc_id = t.doc_id
    GROUP BY p.doc_id
    """,
    tags=("dedup", "text", "ext"),
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (north star `dedup_paragraphs`): the
    C4/RefinedWeb line-dedup recipe — every distinct paragraph survives
    exactly once globally (first occurrence by (doc, position)) and each
    document is rebuilt from its surviving paragraphs. The synthetic
    corpus has no newlines, so ' the ' (a frequent soup token) stands in
    as the paragraph separator — ~8% of segments at sf0.01 are cross-doc
    duplicates, so the stage does real work. Document text shuffles
    exactly once (on the unique doc id); the global winner per paragraph
    is a map-side-combined hash aggregate over (sha256, id, pos) triples,
    never a window over text — see operators/dedup.dedup_paragraphs for
    the skew argument. The oracle joins on paragraph text where Spark
    joins on sha256 — identical verdicts by construction."""
    from ..operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    return dedup_paragraphs(docs, sep=" the ")


@register(
    "q_text_unigram_nll",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ),
    lm AS (
        SELECT token,
               CAST(floor(1e6 * ln(c / SUM(c) OVER ())) AS BIGINT) AS logp_q
        FROM counts
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(-SUM(lm.logp_q) AS BIGINT) AS nll_q_sum,
           CAST(-SUM(lm.logp_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_nll_q
    FROM tok JOIN lm ON tok.token = lm.token
    GROUP BY tok.doc_id
    """,
    tags=("text", "lm", "ext"),
)
def q_text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity signal (north star `unigram_nll`): per-doc
    negative log-likelihood under the corpus's own unigram distribution —
    the CCNet-style quality filter. Token log-probs are floor-quantized
    to a 1e-6 integer grid BEFORE summing so the distributed sum is exact
    and order-independent (raw double sums disagree across partitionings
    and engines in the last bits); the grid-boundary safety of the 1-ulp
    ln() difference between Java and libm is pinned by
    tests/test_extensions.py::test_unigram_nll_grid_safety at every SF."""
    from ..operators.vocab import unigram_nll

    docs = load_table(spark, sf_dir, "documents")
    return unigram_nll(docs)


@register(
    "q_dsir_importance",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM t WHERE len(toks) >= 2
    ),
    occ AS (
        SELECT doc_id, lang,
               list_reduce(
                   list_prepend(
                       CAST(0 AS BIGINT),
                       list_transform(
                           range(1, least(length(bigram), {FINGERPRINT_PREFIX}) + 1),
                           i -> CAST(ascii(substr(bigram, CAST(i AS INTEGER), 1)) AS BIGINT)
                       )
                   ),
                   (acc, x) -> (acc * {FINGERPRINT_BASE} + x) % {FINGERPRINT_MOD}
               ) % 256 AS b
        FROM bg
    ),
    census AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM occ GROUP BY b
    ),
    w AS (
        SELECT b,
               CAST(floor(1e6 * ln((c_t + 1.0) / (SUM(c_t) OVER () + 256))) AS BIGINT)
             - CAST(floor(1e6 * ln((c_raw + 1.0) / (SUM(c_raw) OVER () + 256))) AS BIGINT)
                 AS w_q
        FROM census
    )
    SELECT occ.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(w.w_q) AS BIGINT) AS logratio_q_sum,
           CAST(SUM(w.w_q) AS DOUBLE) / COUNT(*) AS avg_logratio_q
    FROM occ JOIN w USING (b)
    GROUP BY occ.doc_id
    """,
    tags=("text", "curation", "lm", "ext"),
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-bigram importance
    resampling scores for every raw document against the English-language
    target slice — the data-selection stage that tilts a pretraining
    mixture toward a target domain without training a classifier. Bigrams
    hash through the portable rolling polynomial into 256 buckets
    (collisions ARE the model, as in a hashing vectorizer); both smoothed
    bucket log-probs floor-quantize to the 1e-6 integer grid BEFORE the
    subtraction and the per-doc sum, so the score is order-independent
    and the DuckDB oracle hash-exact. Census is bounded by n_buckets;
    corpus text never shuffles — only (id, int-weight) pairs."""
    from ..operators.vocab import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, target_pred=F.col("lang") == "en", n_buckets=256)


@register(
    "q_boilerplate_census",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' the ') AS ps
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT doc_id, ps[i] AS paragraph
        FROM t, unnest(generate_series(1, len(ps))) AS g(i)
    )
    SELECT paragraph,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM p
    GROUP BY paragraph
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "text", "ext"),
)
def q_boilerplate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate census (north star `boilerplate_census`):
    paragraphs appearing in >= 2 distinct documents with their document
    and occurrence counts — the evidence table behind paragraph-dedup
    policy. Same synthetic ' the ' separator as q_dedup_paragraphs; one
    explode + one map-side-combined aggregate, shuffle cardinality
    bounded by distinct paragraphs."""
    from ..operators.dedup import boilerplate_census

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_census(docs, sep=" the ")


@register(
    "q_multimodal_dedup",
    oracle="""
    SELECT sha256(text) AS payload_sha,
           CAST(MIN(doc_id) AS BIGINT) AS keep_asset_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY sha256(text)
    """,
    tags=("multimodal", "dedup", "ext"),
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by payload content digest (north star
    `multimodal_columns` × `dedup_exact`): the standard first pass over an
    image/audio corpus — byte-identical assets collapse to one row keyed
    by sha256(payload), keeping the smallest asset id. The digest group
    key keeps shuffle rows at 64 chars no matter how large the media
    payloads are — the binary twin of the text exact-dedup contract. The
    oracle hashes the same UTF-8 bytes (the asset fixture's payload is
    encode(text)), so digests agree byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    assets = assets_from_documents(docs)
    return (
        assets.select("asset_id", F.sha2("payload", 256).alias("payload_sha"))
        .groupBy("payload_sha")
        .agg(
            F.min("asset_id").alias("keep_asset_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@register(
    "q_dedup_substring_spans",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
        FROM t, unnest(generate_series(1, len(toks) - 7)) AS s(i)
        WHERE len(toks) >= 8
    ),
    losers AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
            FROM g
        ) WHERE rn > 1
    ),
    covered AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM losers, unnest(generate_series(0, 7)) AS u(j)
    ),
    tok AS (
        SELECT doc_id, i - 1 AS tpos, toks[i] AS token
        FROM t, unnest(generate_series(1, len(toks))) AS s(i)
    ),
    surv AS (
        SELECT tok.doc_id,
               string_agg(tok.token, ' ' ORDER BY tok.tpos) AS text,
               COUNT(*) AS n_kept
        FROM tok
        LEFT JOIN covered
          ON tok.doc_id = covered.doc_id AND tok.tpos = covered.cpos
        WHERE covered.doc_id IS NULL
        GROUP BY tok.doc_id
    )
    SELECT t.doc_id,
           COALESCE(surv.text, '') AS text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(surv.n_kept, 0) AS BIGINT) AS n_kept
    FROM t LEFT JOIN surv ON t.doc_id = surv.doc_id
    """,
    tags=("dedup", "text", "ext"),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (north star; Lee et al. ExactSubstr):
    strip every >= 8-token span whose text occurred earlier elsewhere in
    the corpus — duplication that is NOT paragraph-aligned and so slips
    past `q_dedup_paragraphs` (quoted passages, syndicated bodies with
    local edits). Rolling 8-gram sha256 digests hash in-row at the scan;
    the global first-occurrence winner per gram is a map-side-combined
    min(struct(id,pos)) hash aggregate (never a window over digests — the
    paragraph operator's skew argument); losing occurrences collapse to a
    per-doc covered-position set in ONE aggregate with the k-fold
    expansion done in-row; the rebuild joins back on the unique doc id.
    ~4.6% of 8-gram occurrences at sf0.01 are cross/self duplicates, so
    the stage does real work. The oracle replays the cover semantics on
    gram TEXT where Spark joins on sha256 — identical verdicts (digest
    equality == byte equality)."""
    from ..operators.dedup import dedup_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_substring_spans(docs, k=8)


@register(
    "q_dedup_spans_incremental",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 0
    ),
    seen AS (
        SELECT DISTINCT array_to_string(list_slice(s.toks, i, i + 7), ' ') AS gram
        FROM (
            SELECT string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
        ) s, unnest(generate_series(1, len(s.toks) - 7)) AS u(i)
        WHERE len(s.toks) >= 8
    ),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
        FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        WHERE len(toks) >= 8
    ),
    flagged AS (
        SELECT g.doc_id, g.pos, g.gram,
               (seen.gram IS NOT NULL) AS hit,
               ROW_NUMBER() OVER (PARTITION BY g.gram
                                  ORDER BY g.doc_id, g.pos) AS rn
        FROM g LEFT JOIN seen ON g.gram = seen.gram
    ),
    covered AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM flagged, unnest(generate_series(0, 7)) AS u(j)
        WHERE hit OR rn > 1
    ),
    tok AS (
        SELECT doc_id, i - 1 AS tpos, toks[i] AS token
        FROM t, unnest(generate_series(1, len(toks))) AS s(i)
    ),
    surv AS (
        SELECT tok.doc_id,
               string_agg(tok.token, ' ' ORDER BY tok.tpos) AS text,
               COUNT(*) AS n_kept
        FROM tok
        LEFT JOIN covered
          ON tok.doc_id = covered.doc_id AND tok.tpos = covered.cpos
        WHERE covered.doc_id IS NULL
        GROUP BY tok.doc_id
    )
    SELECT t.doc_id,
           COALESCE(surv.text, '') AS text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(surv.n_kept, 0) AS BIGINT) AS n_kept
    FROM t LEFT JOIN surv ON t.doc_id = surv.doc_id
    """,
    tags=("dedup", "text", "delta", "ext"),
)
def q_dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr span dedup (daily-maintenance form of
    q_dedup_substring_spans): docs with doc_id % 10 == 0 stand in for the
    EXISTING corpus — represented only by its gram-digest side table
    (operators/dedup.substring_gram_digests, the materialization an
    incremental pipeline appends after each batch) — and the rest are the
    new batch. Any >= 8-token span already in the corpus, or duplicated
    earlier within the batch, is stripped from the batch docs; corpus
    text never participates. The probe join is digest-keyed (bucket the
    side table on the digest and the corpus-scale side never shuffles);
    the within-batch winner is the same map-side-combined min(struct)
    aggregate as the full operator. The oracle replays the cover rule on
    gram TEXT — identical verdicts (digest equality == byte equality)."""
    from ..operators.dedup import (
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )

    docs = load_table(spark, sf_dir, "documents")
    seen = substring_gram_digests(docs.filter(F.col("doc_id") % 10 == 0), k=8)
    new = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup_substring_spans_incremental(new, seen, k=8)


@register(
    "q_token_pair_lift",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS item
        FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    d AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS item_df
        FROM tok GROUP BY item
    ),
    pr AS (
        SELECT t.doc_id, t.item FROM tok t
        JOIN d USING (item), nd
        WHERE d.item_df >= CAST(ceil(nd.n_total / 16.0) AS BIGINT)
    )
    SELECT a.item AS item_a, b.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n_both,
           MIN(da.item_df) AS df_a, MIN(db.item_df) AS df_b,
           (CAST(COUNT(*) AS DOUBLE) * MIN(nd.n_total))
               / (CAST(MIN(da.item_df) AS DOUBLE) * MIN(db.item_df)) AS lift
    FROM pr a
    JOIN pr b ON a.doc_id = b.doc_id AND a.item < b.item
    JOIN d da ON da.item = a.item
    JOIN d db ON db.item = b.item
    CROSS JOIN nd
    GROUP BY a.item, b.item
    HAVING COUNT(*) >= CAST(ceil(MIN(nd.n_total) / 4.0) AS BIGINT)
    """,
    headline=False,
    tags=("text", "vocab", "ext"),
)
def q_token_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket token-pair census with lift (A-priori passes 1+2,
    north star `token_pair_cooccurrence`): frequent token pairs per
    document-basket with both document frequencies and lift. Thresholds
    derive from the basket count as exact binary fractions (item df ≥
    ⌈N/16⌉, pair support ≥ ⌈N/4⌉) so the census stays discriminative at
    every SF; the doc count is an eager scan-count (documented). Pairs
    are generated IN-ROW from each basket's sorted frequent-item set (no
    (doc, token) self-join — the oracle replays that textbook
    formulation); lift is one IEEE
    multiply/divide tree on exact integer counts, mirrored verbatim —
    bit-exact, no grid."""
    import math

    from ..operators.vocab import token_pair_cooccurrence

    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    return token_pair_cooccurrence(
        docs,
        min_item_df=math.ceil(n_total / 16.0),
        min_pair_support=math.ceil(n_total / 4.0),
    )


# DuckDB twin of similarity.label_centroids' quantized component stream:
# 1-based generate_series indexing replaces posexplode (DuckDB has no
# WITH ORDINALITY), floored onto the same CENTROID_QUANT grid.
_CENTROID_EX_SQL = """
    SELECT label, CAST(p - 1 AS INT) AS pos,
           CAST(floor(1000000.0 * CAST(embedding[p] AS DOUBLE)) AS BIGINT)
               AS vq
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS p) g
"""


@register(
    "q_embedding_centroids",
    oracle=f"""
    WITH ex AS ({_CENTROID_EX_SQL})
    SELECT label, pos,
           (CAST(SUM(vq) AS DOUBLE) / COUNT(*)) / 1000000.0 AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY label, pos
    """,
    headline=False,
    tags=("similarity", "vector", "ext"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class prototypes in long form ([ext]): the exact-oracle
    twin of the MLlib coarse quantizer — component values floor onto the
    1e-6 grid BEFORE the distributed sum so the mean is integer-exact
    (unigram_nll lane); one map-side-combined (label, pos) aggregate,
    shuffle ∝ labels × dim."""
    from ..operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


@register(
    "q_label_coherence",
    oracle=f"""
    WITH ex AS ({_CENTROID_EX_SQL}),
    cent AS (
        SELECT label, pos,
               (CAST(SUM(vq) AS DOUBLE) / COUNT(*)) / 1000000.0 AS centroid
        FROM ex GROUP BY label, pos
    ),
    cvec AS (
        SELECT label, list(centroid ORDER BY pos) AS cvec
        FROM cent GROUP BY label
    ),
    assign AS (
        SELECT e.vec_id, e.label AS true_label,
               (MIN({{'d': list_reduce(
                         list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(list_zip(e.embedding, c.cvec),
                                 x -> (CAST(x[1] AS DOUBLE) - x[2])
                                      * (CAST(x[1] AS DOUBLE) - x[2]))),
                         (acc, v) -> acc + v),
                     'l': c.label}})).l AS assigned_label
        FROM embeddings e CROSS JOIN cvec c
        GROUP BY e.vec_id, e.label
    )
    SELECT true_label, assigned_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM assign GROUP BY true_label, assigned_label
    """,
    headline=False,
    tags=("similarity", "vector", "quality", "ext"),
)
def q_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label-confusion census ([ext] label-noise screen):
    every vector assigned to its nearest label prototype, counted by
    (true, assigned). The assignment is in-row — one broadcast row of all
    prototypes, L ordered zip-folds per vector, array_min argmin with
    label tiebreak — so vectors NEVER shuffle; the oracle replays the
    textbook GROUP-BY-vector argmin over the identical quantized-mean
    centroids (bit-exact folds, deterministic comparisons)."""
    from ..operators.similarity import label_coherence_census

    emb = load_table(spark, sf_dir, "embeddings")
    return label_coherence_census(emb)


@register(
    "q_text_tfidf_cosine_pairs",
    oracle="""
    WITH tf AS (
        SELECT doc_id, block, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, source AS block,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, block, tok
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dfx AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    w0 AS (
        SELECT tf.doc_id, tf.block, tf.tok,
               CAST(floor(1000000.0 * (tf.tf * ln(CAST(nd.n_docs AS DOUBLE)
                                                  / dfx.df))) AS BIGINT) AS wq
        FROM tf JOIN dfx USING (tok) CROSS JOIN nd
    ),
    bn AS (
        SELECT source AS block, CAST(COUNT(*) AS BIGINT) AS nb
        FROM documents GROUP BY 1
    ),
    hot AS (
        SELECT w0.block, w0.tok FROM w0 JOIN bn ON w0.block = bn.block
        GROUP BY w0.block, w0.tok, bn.nb
        HAVING COUNT(*) > 1000
            OR (COUNT(*) > 300 AND COUNT(*) * 10 > 1 * bn.nb)
    ),
    w AS (
        SELECT w0.* FROM w0 LEFT JOIN hot
            ON w0.block = hot.block AND w0.tok = hot.tok
        WHERE hot.tok IS NULL
    ),
    norms AS (
        SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nq FROM w GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.wq * b.wq) AS BIGINT) AS num
        FROM w a JOIN w b ON a.tok = b.tok AND a.block = b.block
                         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(num AS DOUBLE)
               / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
               AS cosine
    FROM pairs
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(num AS DOUBLE)
          / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) >= 0.75
    """,
    headline=False,
    tags=("text", "dedup", "similarity", "ext"),
)
def q_text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine near-dup pairs ([ext]): the lexical-weighted
    member of the near-dup family (between unigram Jaccard and embedding
    cosine). ONE weight quantization (floor grid under the
    cross-engine-soft ln), then everything to the final
    sqrt/divide tree is exact integer arithmetic — the threshold compare
    can never flip (see operators/dedup.tfidf_cosine_pairs).

    Scale posture (r11 closes the r10 weak item): r10 measured this as
    the series' one superlinear row — 18.8x wall for 10x docs, because a
    token in d docs of a block contributes d^2 inverted-index join rows
    and the SYNTHETIC corpus keeps every token stop-word-grade (mean
    within-block df ~1000 of 2500 docs; sum(df^2) grew 89x for 10x docs
    — 2.06e9 join rows at sf1 vs 23M at sf0.1). The absolute skew guard
    (max_token_df=1000) bounds any single token's fan-out but not
    SUB-cap density, so r11 adds the RELATIVE stop-token guard the
    production indexes use (sklearn max_df / CCNet): drop tokens present
    in > max(min_df_floor=300, 10% of the block's docs) — both compares
    exact integer cross-multiplications, mirrored verbatim in the
    oracle. A NO-OP at every driver SF (max within-block df is 24 at
    sf0.01 and 228 at sf0.1, under the 300 floor — results bit-identical
    to the r10 query), while at sf1.0 it drops the stop-word-grade mass
    (block-df up to 1112 of ~2500) and the measured wall falls ~12x
    (99.9 s -> ~8 s; the synthetic sf1 corpus is ALL stop tokens, so the
    guarded index empties and the query reports zero pairs — exactly
    what sklearn max_df does on a corpus with no informative vocabulary;
    BASELINE.md r11). Guard semantics are
    sklearn's: dropped tokens leave the vocabulary entirely (numerator
    terms and norm mass alike — the guarded score is the true cosine on
    the reduced vocabulary, not a bound on the unguarded one), mirrored
    verbatim in the oracle's anti-join-then-norms order."""
    from ..operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, threshold=0.75, max_token_df=1000, max_df_frac=0.1, min_df_floor=300
    )


@register(
    "q_quality_calibrated_keep",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' '))) * 0.5
                 + (1 - CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains([{_STOP_LITS}], x)))
                             AS DOUBLE)
                        / len(string_split(text, ' '))) * 0.3
                 + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100,
                         1.0) * 0.2 AS quality_score
        FROM documents
    ),
    g AS (
        SELECT source, list_sort(list(quality_score)) AS ss,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM t GROUP BY source
    ),
    thr AS (
        SELECT source,
               ss[CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1]
                 + (ss[LEAST(CAST(floor(0.75 * (n - 1)) AS BIGINT) + 2, n)]
                    - ss[CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1])
                   * (0.75 * (n - 1) - floor(0.75 * (n - 1)))
                   AS keep_threshold
        FROM g
    )
    SELECT t.doc_id, t.source, t.quality_score, thr.keep_threshold
    FROM t JOIN thr USING (source)
    WHERE t.quality_score >= thr.keep_threshold
    """,
    tags=("text", "quality", "curation", "ext"),
)
def q_quality_calibrated_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source calibrated quality selection ([ext], north star
    `calibrated_quality_keep`): keep each source's top 25% by quality
    score, cut at that source's OWN 0.75 score quantile — a global
    threshold would silently reweight the corpus toward sources that
    score systematically high. Data rows never sort globally and never
    enter a per-source window (a percent_rank over a hot source is one
    task sorting the whole source): one (source, score) aggregate
    builds exact order-statistic thresholds, which broadcast back as a
    filter. Threshold and comparison are bit-identical cross-engine (the
    no-grid interpolation lane), ties at the cut are kept (>=)."""
    from ..operators.curation import calibrated_quality_keep

    docs = load_table(spark, sf_dir, "documents")
    return calibrated_quality_keep(docs, keep_frac=0.25)


@register(
    "q_text_bigram_nll",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
        SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM tok, unnest(generate_series(1, len(ts) - 1)) AS g(i)
    ),
    counts AS (
        SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
    ),
    lm AS (
        SELECT w1, w2,
               CAST(floor(1e6 * ln(c / SUM(c) OVER (PARTITION BY w1)))
                    AS BIGINT) AS logp_q
        FROM counts
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(-SUM(lm.logp_q) AS BIGINT) AS nll_q_sum,
           CAST(-SUM(lm.logp_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_nll_q
    FROM bg JOIN lm USING (w1, w2)
    GROUP BY bg.doc_id
    """,
    tags=("text", "lm", "ext"),
)
def q_text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM perplexity signal (north star `bigram_nll`):
    the order-sensitive sibling of q_text_unigram_nll — a scrambled
    document keeps its unigram NLL but its bigram NLL spikes. Conditional
    log-probs ln(c(w1,w2)/c1(w1)) floor-quantize to the 1e-6 integer grid
    before summing (exact, order-independent); pairs assemble in-row with
    the token array bound once (the span_gram_digests O(L^2) trap);
    grid-boundary safety pinned per SF by
    tests/test_extensions.py::test_bigram_nll_grid_safety."""
    from ..operators.vocab import bigram_nll

    docs = load_table(spark, sf_dir, "documents")
    return bigram_nll(docs)


@register(
    "q_source_syndication",
    oracle="""
    WITH t AS (
        SELECT source, string_split(text, ' the ') AS ps
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT DISTINCT source, ps[i] AS para
        FROM t, unnest(generate_series(1, len(ps))) AS g(i)
        WHERE length(ps[i]) >= 20
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_paragraphs
    FROM p a JOIN p b ON a.para = b.para AND a.source < b.source
    GROUP BY 1, 2
    """,
    tags=("text", "dedup", "quality", "ext"),
)
def q_source_syndication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix (north star
    `source_syndication_census`): distinct substantive paragraphs (>= 20
    chars) shared per source pair — the who-mirrors-whom census behind
    syndication-aware source weighting. NO paragraph self-join (the d²
    boilerplate blow-up): one digest-keyed collect_set(source) bounded
    by |sources|, pairs generated in-row, constant-size final census.
    The oracle replays via the text self-join on DISTINCT (source,
    paragraph) rows — digest equality == byte equality."""
    from ..operators.dedup import source_syndication_census

    docs = load_table(spark, sf_dir, "documents")
    return source_syndication_census(docs)


# Substring-search pattern for the trigram-index query: a mid-frequency
# bigram phrase of the synthetic vocabulary (26 matching docs at sf0.01)
# so both the pruning and the verification branch do real work.
_TRGM_PATTERN = "vector merge"


@register(
    "q_substring_search_trgm",
    oracle=f"""
    SELECT doc_id, text FROM documents
    WHERE text IS NOT NULL AND contains(text, '{_TRGM_PATTERN}')
    """,
    tags=("text", "search", "ext"),
)
def q_substring_search_trgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-accelerated LIKE '%pattern%' (north star
    `substring_search`, the pg_trgm recipe): the index prunes to
    documents containing EVERY pattern trigram, exact `contains`
    verifies only candidates — byte-for-byte equal to the naive scan
    the oracle runs, without reading the whole corpus per query. The
    index build is in-plan here (the registry query must be
    self-contained); production stores it once, bucketed on trigram
    (sources/writers.write_bucketed), and amortizes it across queries."""
    from ..operators.dedup import build_trigram_index, substring_search

    docs = load_table(spark, sf_dir, "documents")
    idx = build_trigram_index(docs)
    return substring_search(docs, idx, _TRGM_PATTERN)


@register(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE v AS (
        SELECT DISTINCT c_custkey AS id, c_name AS name,
               CASE WHEN i = 0 THEN c_name
                    ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1)
               END AS variant
        FROM customer, unnest(generate_series(0, len(c_name))) AS g(i)
        WHERE c_nationkey = 0
    ),
    cnt AS (SELECT variant, COUNT(*) AS n FROM v GROUP BY variant),
    kept AS (
        SELECT v.id, v.name, v.variant
        FROM v JOIN cnt ON v.variant = cnt.variant WHERE cnt.n <= 64
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.name AS name_a, b.name AS name_b
        FROM kept a JOIN kept b
          ON a.variant = b.variant AND a.id < b.id
    ),
    edges AS (
        SELECT id_a, id_b FROM cand WHERE levenshtein(name_a, name_b) <= 1
    ),
    undirected AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM edges
    ),
    reach AS (
        SELECT c_custkey AS node, c_custkey AS r FROM customer
        WHERE c_nationkey = 0
        UNION
        SELECT reach.node, undirected.v AS r
        FROM reach JOIN undirected ON reach.r = undirected.u
    ),
    labels AS (
        SELECT node, MIN(r) AS entity_id FROM reach GROUP BY node
    ),
    sizes AS (
        SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM labels GROUP BY entity_id
    )
    SELECT s.entity_id, s.n_members, c.c_name AS canonical_name
    FROM sizes s JOIN customer c ON s.entity_id = c.c_custkey
    WHERE c.c_nationkey = 0
    """,
    tags=("fuzzy", "dedup", "ext"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over customer names (north star
    `resolve_entities`): symmetric-delete candidate pairing (edit
    distance <= 1, no name self-join) -> min-label connected components
    (transitive closure, ids only) -> survivorship (min member id is
    the entity, its name canonical; singletons resolve to themselves).
    Scoped to ONE nation's customers (per-tenant resolution, the
    realistic unit of an MDM run): the synthetic name pool is so dense
    that whole-table closure is a degenerate near-single-cluster graph,
    and the oracle's recursive-CTE reachability is O(sum of
    component^2) rows — unboundable there, bounded and meaningful per
    tenant (sf0.1: 590 customers -> 239 entities, max cluster 43). The
    oracle replays candidates + Levenshtein verification + the
    recursive closure; the three chained stages are each independently
    oracle-proven (q_fuzzy_name_pairs, q_dedup_clusters,
    q_golden_record)."""
    from ..operators.fuzzy import resolve_entities

    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 0
    )
    return resolve_entities(
        customer.select(
            F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
        )
    )


@register(
    "q_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM tok GROUP BY token
    )
    SELECT token, n_occurrences,
           ROUND(CAST(n_occurrences AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS share
    FROM c, tot
    WHERE n_occurrences >= CAST(CEIL(0.003 * n) AS BIGINT)
    """,
    tags=("text", "sketch", "agg", "ext"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-heavy hitters of the corpus token stream at phi = 0.003
    (north star `heavy_hitters`): every token holding >= 0.3% of all
    token mass, found with per-partition Misra–Gries sketches whose
    candidate union is a guaranteed SUPERSET of the true heavy hitters,
    then made EXACT by a candidate-only recount — the shuffle carries
    |candidates| keys, never the vocabulary's long tail. Because the
    recount is exact, the output is partition-invariant and the DuckDB
    oracle (a plain census + threshold) must match hash-exactly — a
    sketch-accelerated operator with a full-strength oracle, unlike the
    rows-only HLL/MinHash family."""
    from ..operators.vocab import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, phi=0.003)


@register(
    "q_decontaminate_containment",
    oracle="""
    WITH bt AS (
        SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0
    ),
    bg AS (
        SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM bt, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    dt AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id % 97 <> 0
    ),
    dg AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM dt, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM dg GROUP BY doc_id
    ),
    matched AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m
        FROM dg JOIN bg USING (gram) GROUP BY doc_id
    )
    SELECT totals.doc_id, n_grams,
           CAST(COALESCE(m, 0) AS BIGINT) AS n_matched,
           ROUND(CAST(COALESCE(m, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
               AS containment
    FROM totals LEFT JOIN matched ON totals.doc_id = matched.doc_id
    """,
    tags=("text", "decontam", "ext"),
)
def q_decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark-containment audit (north star `containment_scores`):
    for every training document, the fraction of its distinct word
    n-grams found anywhere in the eval set — the PaLM/FLAN-style
    thresholdable decontamination policy beside `q_text_decontaminate`'s
    binary any-overlap rule. Same synthetic split as the sibling
    (benchmark = the doc_id % 97 == 0 slice, n=3); denominator counts
    in-row (distinct shingles never leave the scan), numerator rides the
    broadcast gram probe, matched counts broadcast back —
    corpus rows never shuffle. The oracle replays it on gram strings;
    the Spark side probes xxhash64(gram) and must agree hash-exactly."""
    from ..operators.decontam import containment_scores

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return containment_scores(corpus, bench, n=3)


@register(
    "q_zipf_fit",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, token
    ),
    pts AS (
        SELECT source, c,
               CAST(FLOOR(1000000.0 * ln(CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY c DESC, token ASC
               ) AS DOUBLE))) AS BIGINT) AS x,
               CAST(FLOOR(1000000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS y
        FROM c
    ),
    m AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n_tokens, vocab_size,
           ROUND(CASE WHEN vocab_size > 1 THEN
               CAST(vocab_size * sxy - sx * sy AS DOUBLE)
               / CAST(vocab_size * sxx - sx * sx AS DOUBLE)
           END, 6) AS zipf_slope,
           ROUND(CASE WHEN vocab_size > 1 THEN
               CAST(sy * sxx - sx * sxy AS DOUBLE)
               / CAST(vocab_size * sxx - sx * sx AS DOUBLE) / 1000000.0
           END, 6) AS zipf_intercept
    FROM m
    """,
    tags=("text", "vocab", "stats", "ext"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency fit (north star `zipf_fit_per_key`):
    OLS slope/intercept of ln(freq) on ln(rank) over each source's token
    census — natural language sits near slope -1; templated or synthetic
    text bends the log-log line, so the census flags sources whose token
    statistics stopped looking like language. One corpus pass; ranks are
    a deterministic (count DESC, token ASC) row_number over the census;
    both axes floor-quantize to the 1e-6 grid and all OLS moments
    accumulate as exact integers (DECIMAL(38,0) / HUGEINT for the
    products); slope and intercept are single divisions of exact
    determinants, rounded 1e-6."""
    from ..operators.vocab import zipf_fit_per_key

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return zipf_fit_per_key(docs, group_col="source")


@register(
    "q_token_burstiness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    pd AS (
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY token, doc_id
    ),
    pt AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c) AS BIGINT) AS cf,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sc2
        FROM pd GROUP BY token
    )
    SELECT token, df, cf,
           ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst,
           ROUND(CASE WHEN df > 1 THEN
               CAST(CAST(df AS HUGEINT) * sc2
                    - CAST(cf AS HUGEINT) * CAST(cf AS HUGEINT) AS DOUBLE)
               / CAST(CAST(df - 1 AS HUGEINT) * CAST(cf AS HUGEINT) AS DOUBLE)
           END, 6) AS vmr
    FROM pt
    ORDER BY cf DESC, token
    LIMIT 50
    """,
    tags=("text", "vocab", "quality", "ext"),
)
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness census (north star `token_burstiness`, r11): for
    the corpus's 50 most frequent tokens, how is each token's mass spread
    across documents — Katz's per-containing-doc mean (burst = cf/df) and
    the Fisher variance-to-mean ratio over containing docs (1 = Poisson-
    flat function word; >1 = clumped content/template mass). The
    dispersion-aware stop-token signal beside raw frequency: a templated
    boilerplate phrase is high-cf AND bursty, a true function word is
    high-cf and flat — and a token whose vmr jumps between crawls marks
    new template/spam mass even at stable volume. One corpus pass
    (explode + map-side-combined (token, doc) census), a vocab-sized
    re-aggregate with exact integer moments (DECIMAL(38,0) / HUGEINT for
    the squared terms), two exact-integer-ratio divisions rounded 1e-6,
    and a TakeOrderedAndProject top-50 (cf DESC, token ASC — fully
    deterministic, so the row SET is oracle-hashable)."""
    from ..operators.vocab import token_burstiness

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return token_burstiness(docs, top_k=50)


@register(
    "q_source_vocab_overlap",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS v
        FROM tok GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM tok a JOIN tok b
          ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           sa.v AS vocab_a, sb.v AS vocab_b, inter,
           ROUND(CAST(inter AS DOUBLE)
                 / CAST(sa.v + sb.v - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = inter.source_a
    JOIN sizes sb ON sb.source = inter.source_b
    """,
    tags=("text", "vocab", "dedup", "ext"),
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard (north star
    `source_vocab_overlap`, r11): the source-LEVEL redundancy census —
    two sources whose distinct-token vocabularies overlap near-totally
    are the same text wearing different names (mirrors, syndication,
    scraped re-hosts), the signal that feeds a source-level
    dedup/downweight decision BEFORE any document-level pass pays its
    bill. Pairs with an empty intersection are omitted (inner join on
    token; their jaccard is 0 by definition — mirrored in the oracle).
    The corpus collapses to the distinct (source, token) census in one
    pass; pairs come from the census self-joined on token (a token in s
    sources contributes s^2/2 pair rows, bounded by the catalog-sized
    source dimension, never documents); the jaccard is one exact integer
    ratio rounded 1e-6."""
    from ..operators.vocab import source_vocab_overlap

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return source_vocab_overlap(docs, group_col="source")


@register(
    "q_ann_recall_probe", oracle=None, tags=("similarity", "ext", "pq")
)
def q_ann_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k probe of the persisted PQ index against exact cosine
    (north star `pq_index_recall_probe`, r11): the measurable half of
    the rebuild-on-drift maintenance recipe — after each
    `pq_index_append`, probe the index WITH THE APPENDED BATCH as
    queries and compare served top-k to exact brute-force top-k; when
    batch recall falls below the deployment floor, the frozen codebooks
    have drifted and `pq_index_build` retrains in place under the
    snapshot protocol. Here the probe batch is a fixed 10-query slice of
    the corpus (the served twins' shape); the exact side is the
    deliberate ground-truth cost, paid batch x corpus once per ingest.
    NO SQL ORACLE by design (recall of a hash/quantization structure is
    engine-specific — the q_similarity_* rows-only category); the pinned
    floor and the served==in-query identity live in
    tests/test_extensions.py."""
    import os
    import tempfile

    from ..operators.similarity import pq_index_build, pq_index_recall_probe

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _PQ_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.exists(os.path.join(path, "_MANIFEST.json")):
        path = os.path.join(
            tempfile.mkdtemp(prefix="spark_graft_pqidx_"), "index"
        )
        pq_index_build(emb, path, m=8, n_centroids=64)
        _PQ_INDEX_CACHE[sf_dir] = path
    return pq_index_recall_probe(
        spark, path, emb, queries, k=10, shortlist=100
    )


@register(
    "q_vocab_incremental",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    pd AS (
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY token, doc_id
    )
    SELECT token,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(c * c) AS BIGINT) AS sc2
    FROM pd GROUP BY token
    ORDER BY n DESC, token
    LIMIT 30
    """,
    tags=("text", "vocab", "incremental", "ext"),
)
def q_vocab_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained corpus token statistics (north star
    `vocab_merge_incremental`; r12 widens the side table to
    ``(token, n, df, sc2)`` per VERDICT r11 #4): the corpus arrives as
    THREE batches (doc_id mod 3), each merged into a persisted snapshot
    side table by exact integer sum with the read generation CAS-pinned;
    the query returns the side table's top 30 tokens with all three
    maintained statistics (sc2 emitted as BIGINT — far within range at
    driver SFs; the TABLE stores DECIMAL(38,0)). The ORACLE is a full
    recount over the whole corpus — so the driver's hash check IS the
    composition identity (k merges == one recount, bit-exact) for every
    maintained column at once, the strongest form of incremental-
    correctness evidence. Merge cost is vocab-sized (Heaps-law-bounded),
    never corpus text.

    The side table is deliberately FRESH per execution (re-merging into a
    memoized table would double counts — the three merges ARE the
    measured work, unlike the serve-only _PQ_INDEX_CACHE queries); the
    temp parent is atexit-reclaimed so repeated driver/bench runs don't
    accumulate orphan directories (ADVICE r11)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.vocab import vocab_merge_incremental
    from ..sources.writers import snapshot_read

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    parent = tempfile.mkdtemp(prefix="spark_graft_vocab_")
    atexit.register(shutil.rmtree, parent, ignore_errors=True)
    side = parent + "/counts"
    for r in (0, 1, 2):
        vocab_merge_incremental(
            docs.filter(F.col("doc_id") % 3 == r), side
        )
    return (
        snapshot_read(spark, side)
        .select(
            "token",
            "n",
            "df",
            F.col("sc2").cast("bigint").alias("sc2"),
        )
        .orderBy(F.col("n").desc(), "token")
        .limit(30)
    )


@register(
    "q_vocab_growth",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
        FROM tok GROUP BY doc_id
    ),
    bk AS (
        SELECT doc_id, nt, ntile(10) OVER (ORDER BY doc_id) AS b
        FROM pd
    ),
    cp AS (
        SELECT b, MAX(doc_id) AS last_doc,
               COUNT(*) AS docs, SUM(nt) AS toks
        FROM bk GROUP BY b
    ),
    cum AS (
        SELECT b, last_doc,
               CAST(SUM(docs) OVER (ORDER BY b) AS BIGINT) AS docs_seen,
               CAST(SUM(toks) OVER (ORDER BY b) AS BIGINT) AS cum_tokens
        FROM cp
    ),
    fd AS (
        SELECT token, MIN(doc_id) AS fdoc FROM tok GROUP BY token
    ),
    cv AS (
        SELECT cum.b, CAST(COUNT(*) AS BIGINT) AS cum_vocab
        FROM cum JOIN fd ON fd.fdoc <= cum.last_doc
        GROUP BY cum.b
    )
    SELECT CAST(cum.b AS BIGINT) AS bucket,
           CAST(cum.last_doc AS BIGINT) AS last_doc,
           docs_seen, cum_tokens, cv.cum_vocab
    FROM cum JOIN cv ON cv.b = cum.b
    ORDER BY bucket
    """,
    tags=("text", "vocab", "quality", "ext"),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Heaps-law vocabulary growth curve (north star
    `vocab_growth_curve`, r11): sweep the corpus in doc_id order and
    report tokens-seen vs distinct-tokens-seen at 10 document-count
    checkpoints — the marginal-value census whose flattening says new
    data is mostly vocabulary the corpus already has (continued-crawl /
    dedup ROI falling) and whose kinks localize template floods. Exact
    integers end to end (per-doc counts, ntile boundaries with the
    shared earlier-buckets-take-remainder rule, checkpoint cumsums, and
    the distinct count via each token's FIRST document) — hash-exact
    against the oracle. One corpus pass; windows run over the per-doc
    and 10-row checkpoint tables only; cum_vocab joins the vocab-sized
    first-doc table against the broadcast checkpoint list."""
    from ..operators.vocab import vocab_growth_curve

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return vocab_growth_curve(docs, n_checkpoints=10)


@register(
    "q_dedup_savings",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT doc_id, source,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.source = b.source
                   AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
    ),
    undirected AS (
        SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM edges
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT reach.node, undirected.v AS r
        FROM reach JOIN undirected ON undirected.u = reach.r
    ),
    labeled AS (
        SELECT node AS doc_id, MIN(r) AS rep,
               (MIN(r) = node) AS is_kept
        FROM reach GROUP BY node
    ),
    nt AS (
        SELECT doc_id,
               CAST(CASE WHEN text IS NULL THEN 0
                         ELSE len(string_split(text, ' ')) END AS BIGINT)
                   AS ntok
        FROM documents
    ),
    per_cluster AS (
        SELECT rep,
               CAST(COUNT(*) AS BIGINT) AS csize,
               CAST(SUM(ntok) AS BIGINT) AS toks,
               CAST(SUM(CASE WHEN NOT is_kept THEN ntok ELSE 0 END)
                    AS BIGINT) AS rem_toks,
               CAST(SUM(CASE WHEN NOT is_kept THEN 1 ELSE 0 END)
                    AS BIGINT) AS rem_docs
        FROM labeled JOIN nt USING (doc_id)
        GROUP BY rep
    )
    SELECT csize AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(csize) AS BIGINT) AS n_docs,
           CAST(SUM(rem_docs) AS BIGINT) AS docs_removable,
           CAST(SUM(toks) AS BIGINT) AS tokens_total,
           CAST(SUM(rem_toks) AS BIGINT) AS tokens_removable
    FROM per_cluster
    GROUP BY csize
    ORDER BY cluster_size
    """,
    tags=("dedup", "ext", "iterative"),
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI census (north star `dedup_savings_census`, r11): per
    near-dup-cluster SIZE, how many clusters/docs/tokens exist and how
    much is REMOVABLE by keeping one doc per cluster — the budget-level
    readout on top of `q_dedup_clusters`' doc-level keep/drop labels
    ("dedup buys back N tokens, and the mass is in mirror pairs, not
    mega-clusters"). Singletons appear as cluster_size 1 with zero
    removable, so the census sums to the whole corpus. The component
    labels come from the iterative min-label fixpoint, yet the census is
    hash-gated: it depends only on the converged PARTITION, and every
    count is an exact integer (oracle replays the same fixpoint as a
    recursive-CTE closure). Same exact blocked-Jaccard edge semantics as
    q_dedup_clusters; at 100 TB the edge list drops in from the banded
    MinHash path instead."""
    from ..operators.dedup import dedup_savings_census

    docs = load_table(spark, sf_dir, "documents")
    edges = jaccard_pairs_exact(docs, threshold=0.8)
    return dedup_savings_census(docs, edges)


@register(
    "q_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, source,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a
        JOIN tok b ON a.tok = b.tok AND a.source = b.source
                   AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
    ),
    undirected AS (
        SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM edges
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT reach.node, undirected.v AS r
        FROM reach JOIN undirected ON undirected.u = reach.r
    ),
    labeled AS (
        SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY node
    ),
    q AS (
        SELECT doc_id,
               (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' '))) * 0.5
               + (1 - CAST(len(list_filter(string_split(text, ' '),
                              x -> list_contains([{_STOP_LITS}], x))) AS DOUBLE)
                      / len(string_split(text, ' '))) * 0.3
               + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100,
                       1.0) * 0.2 AS s
        FROM documents
    ),
    surv AS (
        SELECT rep, doc_id AS survivor_id FROM (
            SELECT l.rep, l.doc_id,
                   row_number() OVER (
                       PARTITION BY l.rep
                       ORDER BY (q.s IS NOT NULL) DESC, q.s DESC,
                                l.doc_id ASC
                   ) AS rn
            FROM labeled l JOIN q USING (doc_id)
        ) WHERE rn = 1
    )
    SELECT l.doc_id, l.rep AS cluster_rep, surv.survivor_id,
           (l.doc_id = surv.survivor_id) AS is_survivor
    FROM labeled l JOIN surv ON surv.rep = l.rep
    """,
    tags=("dedup", "ext", "iterative", "quality"),
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked survivor selection (north star `dedup_survivors`,
    r12 — the cluster policy `dedup_savings_census`'s docstring calls
    for): over the same exact blocked-Jaccard near-dup graph as
    q_dedup_savings, keep each cluster's HIGHEST-`quality_metrics`-score
    document (deterministic smallest-id tiebreak; NULL scores rank last)
    instead of its smallest id. Returns the per-doc keep/drop labeling —
    ``filter(is_survivor)`` is the curated corpus. Hash-gated even
    through the iterative fixpoint AND the double-typed blended score:
    the labels depend only on the converged partition, the score is the
    same IEEE blend q_text_quality pins bit-exact cross-engine, and the
    argmax tiebreak is total. The oracle replays closure + survivorship
    as recursive CTE + window; the Spark plan is ONE map-side-combinable
    max_by aggregate over the label table — no window over corpus rows
    (tests pin that survivor sets partition the corpus and drop counts
    reconcile with the savings census)."""
    from ..operators.dedup import dedup_survivors

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn(
        "q_score", quality_metrics(F.col("text"))["quality_score"]
    )
    edges = jaccard_pairs_exact(docs, threshold=0.8)
    return dedup_survivors(scored, edges, score_col="q_score")


@register(
    "q_dedup_savings_minhash",
    oracle=None,
    tags=("dedup", "ext", "lsh", "iterative"),
)
def q_dedup_savings_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI census over BANDED-MinHASH edges (r12 — the production
    edge path: q_dedup_savings' docstring says "at 100 TB the edge list
    drops in from the banded MinHash path instead"; this query IS that
    drop-in, previously exercised only by one-off scale probes). Same
    `dedup_savings_census` downstream — label propagation, two map-side-
    combinable aggregates, bounded output — fed by `minhash_lsh_pairs`
    (signature → bands → bucket join → exact-Jaccard verify; no blocking
    column needed, so unlike the exact-edge twin it also links
    cross-source near-dups). Banding is hash-family-specific, so
    rows-only at the driver; tests pin (a) census equality with the
    exact-edge path on a corpus whose banding recall is provably 1.0
    (exact duplicates always collide) and (b) that the edge-generation
    plan — the pipeline's dominant cost — is paid ONCE, not once per
    fixpoint iteration (the r11 localCheckpoint contract in
    `connected_components`).

    Edges use ``intra_edges="star"`` (r12): the census only consumes the
    CONNECTED PARTITION, for which a spanning star per identical-set
    group is equivalent to the clique (pinned in tests) — and linear in
    group size where the clique is quadratic, the term that dominates a
    template-flooded corpus (k·(k-1)/2 → k-1 rows per k-copy cluster)."""
    from ..operators.dedup import dedup_savings_census

    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, threshold=0.8, intra_edges="star")
    return dedup_savings_census(docs, edges.select("doc_a", "doc_b"))


@register(
    "q_token_burstiness_incremental",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    pd AS (
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY token, doc_id
    ),
    pt AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c) AS BIGINT) AS cf,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sc2
        FROM pd GROUP BY token
    )
    SELECT token, df, cf,
           ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst,
           ROUND(CASE WHEN df > 1 THEN
               CAST(CAST(df AS HUGEINT) * sc2
                    - CAST(cf AS HUGEINT) * CAST(cf AS HUGEINT) AS DOUBLE)
               / CAST(CAST(df - 1 AS HUGEINT) * CAST(cf AS HUGEINT) AS DOUBLE)
           END, 6) AS vmr
    FROM pt
    ORDER BY cf DESC, token
    LIMIT 50
    """,
    tags=("text", "vocab", "incremental", "quality", "ext"),
)
def q_token_burstiness_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness census served from the INCREMENTAL vocabulary side table
    (north star `token_burstiness_from_vocab`, r12 — what VERDICT r11 #4
    widened the table for): the corpus arrives as three merged batches,
    then the dispersion census reads ONLY the maintained
    ``(token, n, df, sc2)`` statistics — O(vocab) per refresh instead of
    O(corpus), the daily-crawl cost model. The ORACLE is the full-corpus
    burstiness recount (identical SQL to q_token_burstiness), so the
    driver's hash gate certifies merge-composition correctness of df and
    sc2 THROUGH the derived ratios — burst and vmr doubles included.
    Fresh side table per execution (re-merging a memoized table would
    double counts); temp parent atexit-reclaimed."""
    import atexit
    import shutil
    import tempfile

    from ..operators.vocab import (
        token_burstiness_from_vocab,
        vocab_merge_incremental,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    parent = tempfile.mkdtemp(prefix="spark_graft_vocab_")
    atexit.register(shutil.rmtree, parent, ignore_errors=True)
    side = parent + "/counts"
    for r in (0, 1, 2):
        vocab_merge_incremental(docs.filter(F.col("doc_id") % 3 == r), side)
    return token_burstiness_from_vocab(spark, side, top_k=50)


@register(
    "q_bpe_pair_census",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE w <> '' GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, c
        FROM wc, unnest(generate_series(1, length(w) - 1)) AS g(i)
    )
    SELECT l AS "left", r AS "right", CAST(SUM(c) AS BIGINT) AS pair_count
    FROM pairs GROUP BY l, r
    """,
    tags=("text", "bpe", "ext"),
)
def q_bpe_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round-0 statistic (`bpe_pair_census`): adjacent character-pair
    counts over the word census, weighted by word frequency — the exact
    quantity the first tokenizer merge argmaxes over (Sennrich et al.
    2016). One corpus pass builds the Heaps-bounded word census; the pair
    explode runs over the census, not the corpus, and the widest shuffle
    key is (left, right) — alphabet-bounded. Overlapping pairs all count
    ('aaa' -> (a,a) twice), matching the classic get_stats and the
    oracle's substr indexing."""
    from ..operators.bpe import bpe_pair_census

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_census(docs)


@register(
    "q_bpe_train",
    oracle=None,  # iterative argmax-dependent training is not expressible in
    # non-recursive SQL; rows-only driver check + the python-reference-model
    # parity pin in tests/test_extensions.py::test_bpe_train_matches_python_model
    tags=("text", "bpe", "ext"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (`train_bpe`): 12 merge rounds over the
    word census — per round, a map-side-combinable pair count, a 1-row
    argmax collect (ties break (count DESC, left ASC, right ASC)), and a
    pure-codegen leftmost-greedy fold that rewrites the symbol arrays;
    the census is eagerly localCheckpoint-ed so plan depth stays O(1) per
    round. Corpus is read ONCE; training cost is n_merges x O(word
    vocab), corpus-size-independent. Deterministic: the merge table is a
    pure function of the word census (pinned against a python reference
    model in tests)."""
    from ..operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe(docs, n_merges=12)


@register(
    "q_join_bloom_prefilter",
    oracle="""
    WITH urgent AS (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM urgent)
    GROUP BY l_returnflag
    """,
    tags=("join", "bloom", "ext"),
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-prefiltered semi join (`bloom_prefiltered_semi_join`,
    the hand-rolled twin of Spark's InjectRuntimeFilter): lineitems of
    URGENT orders. An 8 KiB Bloom bitmap built over the urgent orderkeys
    (one bounded bit_or aggregate) probes IN-ROW on the fact side BEFORE
    the join shuffle — at 100 TB the shuffle moves matches + a hash-false-
    positive sliver instead of the whole fact table, and the exact semi
    join removes the sliver, so the oracle is the plain IN-subquery. The
    decimal-lane revenue rollup proves the join content, not just its
    cardinality."""
    from ..operators.skew import bloom_prefiltered_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = bloom_prefiltered_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "q_dedup_semantic",
    oracle=None,  # cluster assignment is k-means-specific (like the whole
    # IVF/PQ family) — rows-only driver check; the leader-rule semantics are
    # pinned against a numpy brute-force model in tests/test_extensions.py
    tags=("dedup", "similarity", "ext"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding corpus,
    then within each cluster keep only the lowest-id representative of
    every tight semantic group (cosine >= 0.45 to an earlier vector drops
    the later one). Pairing is confined within clusters — bucket equi-join
    bounded by the largest cluster, never corpus all-pairs — and the
    domination probe is a LEFT SEMI join that short-circuits at the first
    dominator. Returns every vector with its cluster and keep flag."""
    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, tau=0.45, n_clusters=8)


@register(
    "q_bpe_encode",
    oracle=None,  # replays the learned (iterative, argmax-dependent) merge
    # table — no non-recursive SQL form; rows-only driver check + the
    # end-to-end python-model parity pin in tests/test_extensions.py
    tags=("text", "bpe", "ext"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer SERVE path (`bpe_encode_counts`): learn 12 merges,
    then price every document — whitespace token count vs post-merge BPE
    token count (the number a context-window budget or a token-priced
    mixture actually consumes). Each DISTINCT word is encoded once over
    the Heaps-bounded word census (O(vocab x n_merges), corpus-size-
    independent) and the counts broadcast-join back onto the exploded
    corpus; the merge chain checkpoints every 4 rounds to bound
    expression depth."""
    from ..operators.bpe import bpe_encode_counts, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right, r.merged)
        for r in train_bpe(docs, n_merges=12).orderBy("merge_rank").collect()
    ]
    return bpe_encode_counts(docs, merges)


def _pagerank_oracle(iters: int = 10, scale: int = 10_000_000_000) -> str:
    """Unrolled fixed-iteration PageRank recurrence as chained CTEs.

    DuckDB's recursive CTEs (like Postgres's) cannot aggregate over the
    recursive reference, and PageRank needs a SUM per round — so the fixed
    iteration count is unrolled mechanically instead (p0..p10). Every
    arithmetic step mirrors `operators/graph.pagerank` exactly: BIGINT
    grid, per-edge floor division (`//` here, `DIV` in Spark — identical
    on positive operands), teleport term floored against the node count.
    """
    steps = []
    prev = "p0"
    for i in range(iters):
        nxt = f"p{i + 1}"
        steps.append(
            f"""{nxt} AS (
      SELECT n.node,
             CAST((15 * CAST({scale} AS BIGINT)) // (100 * nn.n)
                  + COALESCE(s.c, 0) AS BIGINT) AS pr_scaled
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               SUM((85 * p.pr_scaled * e.w) // (100 * o.wout)) AS c
        FROM {prev} p JOIN pairs e ON e.src = p.node
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""
        )
        prev = nxt
    return f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ),
    pairs AS (
      SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.k = b.k AND a.p <> b.p
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT src AS node FROM pairs),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS wout FROM pairs GROUP BY src),
    p0 AS (
      SELECT node, CAST(CAST({scale} AS BIGINT) // nn.n AS BIGINT)
             AS pr_scaled
      FROM nodes CROSS JOIN nn
    ),
    {','.join(steps)}
    SELECT node, pr_scaled FROM {prev}
    ORDER BY pr_scaled DESC, node LIMIT 100
    """


@register(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "ext"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-occurrence graph (north star
    `graph_pagerank`, r13): which catalog items sit at the center of the
    bought-together graph — the importance signal a recommender or a
    crawl-frontier prioritizer reads. Ten damped power-iteration rounds
    on a BIGINT grid with per-edge floor division, so the driver hash
    certifies the DISTRIBUTED ITERATION bit-for-bit against an oracle
    that unrolls the same recurrence as ten chained CTEs (the engine's
    second hash-exact iterative fixpoint beside the connected-components
    closure). One shuffle-join + one aggregate per round, edges
    checkpointed once, previous round's checkpoint retired through its
    handle. Top 100 by rank, smallest-node tiebreak."""
    from ..operators.graph import cooccurrence_edges, pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", directed=True)
    pr = pagerank(edges, iters=10)
    return pr.orderBy(F.desc("pr_scaled"), "node").limit(100)


@register(
    "q_graph_triangles",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ),
    ed AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
      GROUP BY 1, 2
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM ed e1
      JOIN ed e2 ON e2.u = e1.v
      JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT 100
    """,
    tags=("graph", "ext"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the part co-occurrence graph
    (north star `graph_triangles`, r13): the clustering-coefficient
    numerator — how embedded each item is in tightly-knit buying
    communities. The engine orients every edge from its (degree, id)-
    smaller endpoint before enumerating wedges, bounding the hot node's
    fan-out at O(sqrt(m)) (Suri & Vassilvitskii WWW'11) — the oracle is
    the plain three-way join over canonical u < v edges, so the hash
    certifies that the orientation trick changes the PLAN, not the
    answer. Exact integers; top 100, smallest-node tiebreak."""
    from ..operators.graph import cooccurrence_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", directed=False)
    tc = triangle_counts(edges)
    return tc.orderBy(F.desc("n_triangles"), "node").limit(100)
