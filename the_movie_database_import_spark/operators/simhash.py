"""SimHash near-duplicate detection ([ext], north star `dedup_simhash`).

The 64-bit signature is computed in an Arrow-batched pandas UDF (the
model use of the vectorized Python path — per-token MD5 is not expressible
with builtins, and a scalar Python UDF would be 10-100x slower). Candidate
generation and Hamming verification stay JVM-side: band buckets + ``bit_count``
on XOR — no Python in the pair phase.

Determinism: hashlib MD5 (not Python ``hash``, which is salted per-process).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from .banding import first_collision_band

SIMHASH_BITS = 64
BAND_BITS = 16  # 4 bands of 16 bits: candidates must share >=1 exact band


def _simhash_one(text: str) -> int:
    """Scalar reference model (kept as the determinism oracle for the
    vectorized batch path below; the UDF itself never calls this)."""
    acc = [0] * SIMHASH_BITS
    for tok in set(text.split(" ")):
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for b in range(SIMHASH_BITS):
            acc[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(SIMHASH_BITS):
        if acc[b] > 0:
            sig |= 1 << b
    # signed 64-bit for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


_BIT_IDX = np.arange(SIMHASH_BITS, dtype=np.uint64)


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """NumPy bit-matrix SimHash over a whole Arrow batch (VERDICT r02 #5).

    Only the per-unique-token MD5 stays in Python (hashlib has no vector
    form, and a per-batch cache hashes each distinct token once); the
    per-bit accumulation — the old inner 64-iteration Python loop per token
    — becomes one (tokens x 64) bit-matrix plus a segmented sum. Bit-exact
    with :func:`_simhash_one` (pinned in tests)."""
    tok_idx: dict[str, int] = {}
    hashes: list[int] = []
    idx_list: list[int] = []
    doc_token_counts: list[int] = []
    for text in texts:
        toks = set(text.split(" "))
        doc_token_counts.append(len(toks))
        for tok in toks:
            i = tok_idx.get(tok)
            if i is None:
                i = len(hashes)
                tok_idx[tok] = i
                hashes.append(
                    int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
                )
            idx_list.append(i)
    if not idx_list:
        return pd.Series(np.empty(0, dtype=np.int64))
    # Bit-expand each UNIQUE token once (unique x 64 int8), then gather per
    # token instance — the int8 gather is the only tokens-x-64 intermediate,
    # 8x smaller than an int64 matrix, and the per-doc sum upcasts to int32.
    h_u = np.array(hashes, dtype=np.uint64)
    contrib_u = (2 * ((h_u[:, None] >> _BIT_IDX[None, :]) & 1).astype(np.int8)) - 1
    idx = np.array(idx_list, dtype=np.intp)
    # every doc has >=1 token (''.split(' ') == ['']), so reduceat offsets
    # are strictly increasing and cover each doc exactly once
    offsets = np.concatenate(([0], np.cumsum(doc_token_counts)[:-1]))
    acc = np.add.reduceat(contrib_u[idx], offsets, axis=0, dtype=np.int32)
    sig_bits = (acc > 0).astype(np.uint64)
    sigs = (sig_bits << _BIT_IDX[None, :]).sum(axis=1, dtype=np.uint64)
    # two's-complement reinterpretation == the scalar path's signed fold
    return pd.Series(sigs.view(np.int64))


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    from ..sources.readers import fan_out

    # The UDF runs at input parallelism — fan out a single-split source so
    # the Arrow batches spread across all cores.
    return fan_out(docs).select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("simhash")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, via 16-bit band buckets.

    Two signatures within Hamming distance 3 must agree exactly on at least
    one of four 16-bit bands (pigeonhole); larger radii trade recall. The
    band join is the shuffle — tiny (doc_id, band, 16-bit value) rows.

    First-collision-band emission (same trick as minhash_lsh_pairs): a
    near-dup pair collides in several bands, so a naive banded self-join
    emits each pair up to ``n_bands`` times and needs a full ``distinct()``
    shuffle over the candidate stream to dedupe. Carrying every band value
    as a scalar column on both join sides and keeping a match only when no
    EARLIER band also matched emits each candidate pair exactly once — the
    post-join Exchange disappears and candidate volume is the true pair
    count, not pairs x bands."""
    n_bands = SIMHASH_BITS // BAND_BITS
    sigs = simhash_signatures(docs, text_col, id_col)
    base = sigs.select(
        "doc_id",
        "simhash",
        *[
            F.shiftrightunsigned(F.col("simhash"), i * BAND_BITS)
            .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
            .alias(f"b{i}")
            for i in range(n_bands)
        ],
    )
    banded = base.select(
        "doc_id",
        "simhash",
        *[f"b{i}" for i in range(n_bands)],
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(n_bands)])).alias(
            "band_id", "band_val"
        ),
    )
    no_earlier = first_collision_band(n_bands)
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & no_earlier,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
