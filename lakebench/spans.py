"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around each call it makes
into a layer of the engine (the package's modules). A span holds a name,
its layer, start, end, parent id and counts measured at the same
boundary. Spans stay in memory and are written once, at the end of the
run. Untraced runs use :data:`NULL_TRACER`, whose spans cost one
attribute lookup.

Spark-side counts come from the local status REST API (completed-stage
deltas around a span, as ``bench.py`` does for its query suite) and, for
streaming queries, from :class:`BatchListener`, which keeps each
micro-batch's full ``durationMs`` breakdown.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Layers are the engine package's modules; "bench" is this harness.
LAYERS = (
    "session",
    "sources",
    "streaming",
    "operators",
    "plans",
    "queries",
    "bench",
)

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
}


class Span:
    __slots__ = ("id", "parent", "name", "layer", "t0", "t1", "counts")

    def __init__(self, sid, parent, name, layer, t0, t1=None):
        self.id = sid
        self.parent = parent
        self.name = name
        self.layer = layer
        self.t0 = t0
        self.t1 = t1
        self.counts: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "layer": self.layer,
            "start": self.t0,
            "end": self.t1,
            "counts": self.counts,
        }


class NullTracer:
    """Tracing off: spans are no-ops, nothing is polled."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str, stages: bool = False):
        yield Span(-1, None, name, layer, 0.0, 0.0)


NULL_TRACER = NullTracer()


class Tracer:
    """In-memory span recorder. ``span(..., stages=True)`` also records
    completed-stage deltas (jobs, tasks, bytes, executor run time) of the
    Spark work the span caused. Time spent polling the REST API and in
    span bookkeeping is accumulated in ``overhead_s``."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.ui_url: str | None = None
        self.app_id: str | None = None

    def attach(self, spark) -> None:
        self.ui_url = spark.sparkContext.uiWebUrl
        self.app_id = spark.sparkContext.applicationId

    def add_span(self, name, layer, t0, t1, parent=None, counts=None) -> Span:
        s = Span(len(self.spans), parent, name, layer, t0, t1)
        if counts:
            s.counts.update(counts)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, stages: bool = False):
        o0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = self.add_span(name, layer, None, None, parent)
        self._stack.append(s.id)
        before = self.stage_totals() if stages else None
        self.overhead_s += time.perf_counter() - o0
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            o1 = time.perf_counter()
            if before is not None:
                after = self.stage_totals()
                if after is not None:
                    for k, v in after.items():
                        s.counts[k] = s.counts.get(k, 0) + v - before.get(k, 0)
            self._stack.pop()
            self.overhead_s += time.perf_counter() - o1

    def stage_totals(self) -> dict | None:
        """Cumulative metrics of every completed stage and job so far."""
        if not self.ui_url:
            return None
        base = f"{self.ui_url}/api/v1/applications/{self.app_id}"
        try:
            with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=10) as r:
                stages = json.load(r)
            with urllib.request.urlopen(f"{base}/jobs?status=succeeded", timeout=10) as r:
                jobs = json.load(r)
        except OSError:
            return None
        out = {k: sum(st.get(f, 0) for st in stages) for k, f in STAGE_FIELDS.items()}
        out["jobs"] = len(jobs)
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of
        its interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered = _union_length(
                [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in children.get(s.id, ())]
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.t1 - s.t0) - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [s.as_dict() for s in self.spans]}, f, indent=None
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# durationMs keys of a micro-batch, in the order the engine runs them
DURATION_KEYS = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress event with its full
    ``durationMs`` breakdown (``streaming.metrics.MetricsListener`` keeps
    only the batch total)."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.batches.append(
            {
                "query": str(p.id),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass
