"""Query plan registry — importing this package populates REGISTRY.

Registration order carries no meaning: the driver adapter
(``__spark_entry__.queries``) computes the order the driver checks from the
CORRECTNESS_r*.json evidence, and every other consumer sorts or indexes by
name.
"""

import dataclasses
import functools

from ..session import release_caches
from .registry import REGISTRY, QuerySpec, register  # noqa: F401

from . import relational  # noqa: F401,E402
from . import windows_sets  # noqa: F401,E402
from . import streaming_batch  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import sampling  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import sql_text  # noqa: F401,E402
from . import udfs  # noqa: F401,E402
from . import stats  # noqa: F401,E402


def _wrap_release(spec: QuerySpec) -> QuerySpec:
    """Starting a query releases the PREVIOUS query's tracked caches, so a
    long-lived session sweeping the registry retains at most one query's
    working set (VERDICT r01 #8). The current query's own caches stay live —
    its returned DataFrame hasn't executed yet.

    ASSUMPTION: builders and executions interleave strictly (build q1 ->
    execute q1 -> build q2 -> ...), which is how the driver, bench.py, and
    tests consume the registry. A consumer that builds q2 before executing
    q1 releases q1's resources mid-flight, with two outcomes:

    - tracked SQL caches (``session.tracked_cache``): q1 still returns
      correct rows, but recomputes what the cache held;
    - tracked result checkpoints (``session.track_result_checkpoint``:
      ``graph.pagerank``'s rank table, ``dedup.connected_components``'
      label table, ``q_pipeline_end_to_end``'s span checkpoint): q1's
      execution FAILS with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, because
      localCheckpoint truncated the lineage that could recompute the
      freed blocks (``session._TRACKED_RESULT_CHECKPOINTS``).

    ROADMAP direction 4 (query-scoped resource lifetimes) replaces this
    build-time release with one released when the query's execution ends."""
    inner = spec.spark_fn

    @functools.wraps(inner)
    def fn(spark, sf_dir):
        release_caches()
        return inner(spark, sf_dir)

    return dataclasses.replace(spec, spark_fn=fn)


REGISTRY.update({name: _wrap_release(spec) for name, spec in REGISTRY.items()})
