"""Deterministic surrogate-key assignment (ref A8, `loader.py:117-118,
:161-223`).

The reference assigns dense sequential ids to languages/countries in
first-appearance order via mutable counters — irreproducible in a distributed
engine. This module assigns ids by ``dense_rank`` over the natural key
(deviation D1, SURVEY.md §7.5): deterministic, idempotent, and join-stable.

Scale note: ``dense_rank`` over an unpartitioned window serializes on one
task, which is fine because surrogate keys are only ever assigned to
*dimension-sized* distinct key sets (languages, countries: dozens). For
high-cardinality keys use ``monotonically_increasing_id`` + a broadcast
remap, or ``zipWithIndex`` — not needed for reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def assign_surrogate_ids(
    df: DataFrame, natural_key: str, id_col: str = "surrogate_id"
) -> DataFrame:
    """Distinct natural keys → dense 1-based ids ordered by the key."""
    w = Window.orderBy(natural_key)
    return (
        df.select(natural_key)
        .filter(F.col(natural_key).isNotNull())
        .distinct()
        .withColumn(id_col, F.dense_rank().over(w).cast("bigint"))
    )

