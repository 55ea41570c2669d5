"""Spans and Spark-side counters for the traced run.

Spans are recorded only in the benchmark's own code, around calls into
the package's public functions. Each span has a name, start, end, parent
span and the id of the op it belongs to; they stay in memory and are
written out once, when the run ends.

Spark counters come from Spark's own status store (populated with the UI
disabled): every traced op runs under its own job group, and the stages of
that group's jobs give executor run time, task counts, shuffle bytes
written and spill.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op"]
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "op": op_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Span name → summed self time (duration minus the part of it
        covered by child spans; children never overlap here, the loop is
        single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def stage_totals(spark, group: str) -> dict[str, float]:
    """Executor time, single-task-stage executor time, shuffle bytes
    written and bytes spilled over the stages of ``group``'s jobs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    default_statuses = getattr(store, "stageData$default$3")()
    default_quantiles = getattr(store, "stageData$default$5")()
    run = single = shuffle = spill = 0
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, default_statuses, False,
                                       default_quantiles)):
            t = st.executorRunTime()
            run += t
            if st.numTasks() == 1:
                single += t
            shuffle += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
    return {"run_ms": run, "single_ms": single, "shuffle_b": shuffle,
            "spill_b": spill}


def cached_bytes(spark) -> int:
    """Bytes Spark currently holds in cached RDD blocks (memory + disk)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(r.memoryUsed() + r.diskUsed() for r in _seq(store.rddList(True)))
