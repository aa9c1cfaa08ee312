"""Spans recorded around layer calls, kept in memory and written out
when the run ends, plus readers for the metrics Spark keeps itself.

A span is (name, start, end, parent, run id). A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), float("nan"), parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def children(self, parent_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == parent_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(spark, prefix: str) -> dict[str, int]:
    """Shuffle bytes written and bytes spilled (memory + disk) by all
    stages of the jobs whose description starts with `prefix`, from
    Spark's own status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job in _iter(store.jobsList(None)):
        desc = job.description()
        if desc.isDefined() and desc.get().startswith(prefix):
            stage_ids.update(int(s) for s in _iter(job.stageIds()))
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    no_status = gw.jvm.java.util.ArrayList()
    shuffle = spill = 0
    for st in _iter(store.stageList(None, False, False, no_quantiles, no_status)):
        if int(st.stageId()) in stage_ids:
            shuffle += int(st.shuffleWriteBytes())
            spill += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return {"shuffle_write_bytes": shuffle, "spill_bytes": spill}


def sql_row_counts(spark, description: str) -> list[tuple[str, int]]:
    """(node name, rows out) for every plan node with a row-count metric
    in the SQL execution(s) whose description equals `description`."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _iter(store.executionsList()):
        if ex.description() != description:
            continue
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        for node in _iter(store.planGraph(eid).allNodes()):
            for m in _iter(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), int(v.get().replace(",", ""))))
    return out
