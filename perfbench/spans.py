"""Spans around calls into the program's layers, and Spark status-store
readings taken around those calls.

Spans are kept in memory and written out when the run ends. With tracing
off, :class:`Tracer` records nothing (``span`` yields ``None``) and the
caller makes no status-store walks, so an untraced repetition pays only
for the ``with`` statements.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, counts: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [vars(s) for s in self.spans], "counts": counts},
                f,
                indent=1,
            )


STAGE_FIELDS = {
    "spark.executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "spark.tasks": lambda s: s.numCompleteTasks(),
    "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "spark.input_bytes": lambda s: s.inputBytes(),
}


class StatusStore:
    """Reads Spark's in-process status store (available with the UI
    disabled). Each reading covers the jobs and stages created since the
    previous reading, found by id from the newest end of the store, so a
    reading touches only new entries and never double-counts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        cls = sc._jvm.java.lang.Class.forName
        self._kv = sc._jsc.sc().statusStore().store()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self._last_job = self.max_job()
        self._last_stage = self._max_stage()

    def max_job(self) -> int:
        it = self._kv.view(self._job_cls).reverse().max(1).iterator()
        return it.next().info().jobId() if it.hasNext() else -1

    def _max_stage(self) -> int:
        it = self._kv.view(self._stage_cls).reverse().max(1).iterator()
        return it.next().info().stageId() if it.hasNext() else -1

    def read(self) -> dict[str, float]:
        """Counts since the previous read: jobs, completed stages, and the
        per-stage sums of :data:`STAGE_FIELDS`."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        last_job = self.max_job()
        out["spark.jobs"] = last_job - self._last_job
        out["spark.stages"] = 0
        newest = self._last_stage
        for w in _iter(self._kv.view(self._stage_cls).reverse()):
            s = w.info()
            if s.stageId() <= self._last_stage:
                break
            newest = max(newest, s.stageId())
            if s.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            for k, fn in STAGE_FIELDS.items():
                out[k] += fn(s)
        self._last_job, self._last_stage = last_job, newest
        return out

    def max_execution(self) -> int:
        """Id of the newest SQL execution, or -1."""
        ids = [e.executionId() for e in _iter(self._sql.executionsList())]
        return max(ids, default=-1)

    def join_filter_rows(self, after_execution: int) -> tuple[int, int]:
        """Rows out of the widest join whose rows feed a filter (through
        projections only), and rows out of that filter, over the SQL
        executions newer than ``after_execution``. For the MinHash LSH query
        these are the banded candidate pairs and the pairs that pass the
        exact Jaccard check."""
        best = (0, 0)
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= after_execution:
                continue
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = {}
            for n in _iter(graph.allNodes()):
                rows = 0
                for m in _iter(n.metrics()):
                    acc = m.accumulatorId()
                    if m.name() == "number of output rows" and values.contains(acc):
                        rows = _parse_count(values.apply(acc))
                nodes[n.id()] = (n.name(), rows)
            consumer = {}
            for edge in _iter(graph.edges()):
                consumer[edge.fromId()] = edge.toId()
            for nid, (name, rows) in nodes.items():
                if "Join" not in name or rows <= best[0]:
                    continue
                c = consumer.get(nid)
                while c is not None and nodes[c][0] == "Project":
                    c = consumer.get(c)
                if c is not None and nodes[c][0] == "Filter":
                    best = (rows, nodes[c][1])
        return best


def _iter(seq):
    """Iterate a Scala collection returned over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _parse_count(text: str) -> int:
    """A row-count metric as the status store formats it ("1,234" or a
    "total (min, med, max)" summary whose first number is the total)."""
    head = text.strip().split("\n")[-1] if "total" in text else text
    digits = head.split("(")[0].replace("total", "").replace(",", "").strip()
    return int(digits) if digits.isdigit() else 0
