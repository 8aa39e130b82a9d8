"""Tracing for the benchmark's traced runs: spans and counters recorded from
the benchmark's own files around each call into a layer of ``ltss_spark``,
plus Spark counts read from public surfaces after the fact.

- Spans carry name, start, end, parent span and op id; they stay in memory
  and are written as JSON lines when the run ends.
- Spark jobs, tasks, input rows and bytes come from the status tracker and
  the application status store, looked up by a per-op job group.
- Files read come from the executed plan's scan nodes after the
  action.
- Streaming progress comes from a ``StreamingQueryListener``.

With tracing off every entry point here is a no-op, so the untraced run
measures the program alone.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the enclosed call as one span; yields the span dict (``None``
        when tracing is off) so callers can attach counts to it."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


@contextmanager
def job_group(spark, group: str | None):
    """Tag every Spark job started by this thread inside the block with
    ``group`` (no-op for ``None``)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Wait until the status store has seen every finished job's events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def group_counts(spark, group: str) -> dict:
    """Jobs, tasks run, input rows and output bytes of every job in ``group``.
    Call :func:`drain_listener_bus` first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "input_rows": 0, "output_bytes": 0}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["input_rows"] += sd.inputRecords()
            out["output_bytes"] += sd.outputBytes()
    return out


def _walk(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


def scan_files(df) -> int:
    """Files read by the file-scan nodes of ``df``'s executed plan.
    Sub-plans the operator materialized separately (a checkpointed stage)
    are not part of this plan and are not counted."""
    files = 0
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() not in ("FileSourceScanExec", "BatchScanExec"):
            continue
        o = node.metrics().get("numFiles")
        if o.isDefined():
            files += int(o.get().value())
    return files


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report."""

    def __init__(self):
        super().__init__()
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
