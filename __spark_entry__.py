"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). It checks only
the first 50 ``queries()`` entries, so ``queries()`` orders the registry
by the driver evidence next to this file (see ``driver_order``).

All queries live in ``the_movie_database_import_spark.plans`` — this module
is a thin adapter over that registry.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from the_movie_database_import_spark.plans import REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"
EVIDENCE_DIR = Path(__file__).resolve().parent

# Registry queries whose operator internals changed since their newest green
# driver row; they go into the next driver window. Empty it once a
# CORRECTNESS_r*.json carries their new rows.
RECHECK = (
    # one MinHash banded-verify path (minhash_lsh_pairs / _incremental)
    "q_dedup_minhash_incremental",
    "q_dedup_minhash_lsh",
    "q_dedup_savings_minhash",
    # joins of unknown size left to the planner (maybe_broadcast's count
    # probe deleted): every query whose plan-manifest row moved
    "q_apply_delta",
    "q_corpus_mix_temperature",
    "q_decontaminate_containment",
    "q_dedup_setjoin_prefix",
    "q_dsir_importance",
    "q_entity_resolution",
    "q_er_sorted_neighborhood",
    "q_fuzzy_name_pairs",
    "q_heavy_hitters",
    "q_oov_rate",
    "q_pipeline_end_to_end",
    "q_shipping_priority_q3",
    "q_source_vocab_overlap",
    "q_substring_search_trgm",
    "q_text_bigram_nll",
    "q_text_decontaminate",
    "q_text_tfidf_cosine_pairs",
    "q_text_unigram_nll",
    "q_vocab_growth",
)


def is_green(row: dict) -> bool:
    """A driver row is evidence only when it passed. ``no_oracle`` rows are
    the rows-only check of hash-family-specific queries; any other row needs
    no error and no failed rows/schema/hash match."""
    if row.get("err") == "no_oracle":
        return True
    return row.get("err") is None and all(
        row.get(k) is not False for k in ("rows_match", "schema_match", "hash_match")
    )


def last_green(evidence_dir: Path = EVIDENCE_DIR) -> dict[str, int]:
    """Per query name, the highest N with a green row in CORRECTNESS_r{N}.json."""
    newest: dict[str, int] = {}
    for path in Path(evidence_dir).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, row in json.loads(path.read_text()).items():
            if is_green(row):
                newest[name] = max(int(m[1]), newest.get(name, 0))
    return newest


def driver_order(
    names: Iterable[str],
    evidence_dir: Path = EVIDENCE_DIR,
    recheck: Iterable[str] = RECHECK,
) -> list[str]:
    """``names`` in driver order: never-checked first, then ``recheck``, then
    oldest green evidence first; ties break by name. A ``recheck`` name not
    in ``names`` raises."""
    names, recheck = list(names), set(recheck)
    stale = sorted(recheck - set(names))
    if stale:
        raise RuntimeError(f"RECHECK names not registered: {stale}")
    newest = last_green(evidence_dir)
    return sorted(
        names, key=lambda n: (n in newest, n not in recheck, newest.get(n, 0), n)
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q_flagship_star_revenue"].spark_fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in ``driver_order``."""
    return {name: REGISTRY[name].spark_fn for name in driver_order(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
