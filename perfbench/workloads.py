"""The four workloads. Each drives the public functions of ``ltss_spark``
with generated inputs, in one process, as a closed loop: one stream and at
most one query client.

- ``ingest``: HA event files -> ``ingest.events_to_states`` -> watermark +
  PK dedup -> ``streaming.ingest.make_upsert_sink`` into a month-partitioned
  table, one file per micro-batch.
- ``dashboard``: a seeded mix of five Grafana / SQL-sensor query kinds over
  a six-month table built with ``ingest.events_to_states`` and
  ``sources.batch.write_partitioned``.
- ``mixed``: the ``ingest`` stream landing through
  ``operators.snapshot.make_snapshot_sink`` while one client runs the
  dashboard mix on ``operators.snapshot.read_version``.
- ``corpus_dedup``: exact groups, verified MinHash pairs and dedup clusters
  over a document corpus with planted duplicates.

A workload prepares its data (``prepare``), warms up, then runs one
measured window (``window``) that returns its end-to-end numbers, per-layer
numbers and output checks. Every workload but ``dashboard`` does a fixed
amount of work per window, set by ``seconds``: ``ingest`` and ``mixed`` land
a fixed number of micro-batches (and ``mixed``'s client issues a fixed number
of queries), so two versions of the program land the same batches on the
same table sizes; ``corpus_dedup`` makes a fixed number of pipeline runs.
``dashboard`` repeats its query mix for ``seconds``.

Operation costs come from marks taken at each operation's boundaries (see
:meth:`Ctx.mark`): wall time on the CPU time the machine got, and the CPU
time of the process tree less the JIT compiler's.
"""

from __future__ import annotations

import calendar
import datetime as dt
import gc
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import types as T

import gen
import oracle
from tracing import (
    ProgressListener,
    Tracer,
    drain_listener_bus,
    group_counts,
    job_group,
    scan_files,
)
from ltss_spark import ingest
from ltss_spark.operators import dedup, gapfill, graph, snapshot, timeseries
from ltss_spark.sources import batch as sources_batch
from ltss_spark.streaming import ingest as stream_ingest

UTC = dt.timezone.utc
US = 1_000_000
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US

#: six months of history, then the stream: it starts 6 h before a month
#: boundary, and its latest-late events (9 h) stay after the history's end
HISTORY_START = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * US
HISTORY_FILES = 20
HISTORY_SPAN = 9 * DAY_US
STREAM_START = int(dt.datetime(2024, 6, 30, 18, tzinfo=UTC).timestamp()) * US
STREAM_SPAN = 3 * HOUR_US
EVENTS_PER_FILE = 20_000
WATERMARK = "1 hour"
#: warm-up before the measured window: stream batches (ingest), seconds of
#: stream plus client (mixed), pipeline runs (corpus_dedup). The JVM keeps
#: compiling for several batches after the first.
WARM_BATCHES = 3
WARM_SECONDS = 6.0
WARM_RUNS = 3
#: micro-batches a window lands per second of ``--seconds``: about what 4
#: cores land per second today (``mixed`` shares them with the client)
INGEST_BATCHES_PER_S = 0.8
MIXED_BATCHES_PER_S = 1.0
#: queries the ``mixed`` client issues per second of ``--seconds``: about
#: what it completes beside the stream today (whole mix cycles at 10 s)
MIXED_QUERIES_PER_S = 1.0
#: pipeline runs a ``corpus_dedup`` window makes per second of ``--seconds``
CORPUS_RUNS_PER_S = 0.4

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("time_fired", T.TimestampType()),
        T.StructField("entity_id", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("attributes", T.StringType()),
    ]
)

KINDS = ("range", "latest", "snapshot", "bucket", "gapfill")
LAYER_FIELDS = ("build_ms", "exec_ms", "jobs", "tasks", "files_read", "rows_scanned", "rows_out")


def to_dt(us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(us / US, tz=UTC).replace(microsecond=us % US)


def to_us(t: dt.datetime) -> int:
    """Collected timestamps are naive wall-clock UTC (the process runs in UTC)."""
    return calendar.timegm(t.utctimetuple()) * US + t.microsecond


def latency_summary(samples_ms: list[float]) -> dict:
    """Median and tail. The tail is the highest percentile with at least ten
    samples beyond it (the 11th largest). When that value would sit below
    the median (fewer than 21 samples), the sample supports no tail and the
    maximum is reported instead, as the 100th percentile."""
    s = sorted(samples_ms)
    n = len(s)
    if n == 0:
        nan = float("nan")
        return {"n": 0, "p50": nan, "tail": nan, "tail_pct": 0.0}
    tail, pct = (s[n - 11], 100.0 * (n - 10) / n) if n >= 21 else (s[-1], 100.0)
    return {"n": n, "p50": statistics.median(s), "tail": tail, "tail_pct": pct}


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    jvm_pid: int
    attempted: int = 0
    peak_rss_mb: float = float("nan")
    live_heap_mb: float = float("nan")
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    report: list = field(default_factory=list)

    def fail(self, what: str, err) -> None:
        self.failures.append(f"{what}: {err}")
        print(f"FAILED {what}: {err}", flush=True)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and every process under
        it: the JVM and the Python workers it starts, with the workers that
        have exited."""
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        f = fh.read().rsplit(")", 1)[1].split()
                except OSError:  # exited meanwhile
                    continue
                # ppid; utime + stime + cutime + cstime
                procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        children = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        todo, ticks = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            ticks += procs[pid][1]
            todo.extend(children.get(pid, ()))
        return ticks / os.sysconf("SC_CLK_TCK")

    def reset_peak(self) -> None:
        """Restart the peak-RSS reading of this process and its JVM."""
        for pid in ("self", self.jvm_pid):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def mark_peak(self) -> None:
        """Take the window's memory readings; windows call it after the
        measured part, before the output checks. The live heap is what a
        full collection leaves: the memory the program still holds, apart
        from the heap the collector reserved. Python garbage goes first, so
        its py4j handles no longer pin JVM objects."""
        self.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)
        gc.collect()
        lang = self.spark._jvm.java.lang
        lang.System.gc()
        heap = lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.live_heap_mb = heap.getUsed() / 2**20

    def jit_cpu_s(self) -> float:
        """CPU seconds used so far by the JVM's JIT compiler threads (a fixed
        set: the JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
        ticks = 0
        tasks = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
                with open(f"{tasks}/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                continue
            ticks += int(f[11]) + int(f[12])  # utime + stime
        return ticks / os.sysconf("SC_CLK_TCK")

    def mark(self) -> tuple:
        """A sample taken at an operation boundary: (wall s, process-tree
        CPU s, JIT CPU s, machine busy ticks, machine stolen ticks)."""
        return (time.perf_counter(), self.cpu_s(), self.jit_cpu_s(), *host_ticks())


def host_ticks() -> tuple[int, int]:
    """CPU ticks of this machine so far: (busy, stolen). Stolen ticks are
    time its CPUs were ready to run but the hypervisor ran another tenant."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """``wall`` on the CPU time the machine got between two
    :func:`host_ticks` readings: wall x busy / (busy + stolen)."""
    busy, stolen = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    return wall * busy / max(busy + stolen, 1)


def op_cost(a: tuple, b: tuple) -> tuple[float, float, float]:
    """(wall ms, net ms, app CPU ms) between marks ``a`` and ``b``.

    Net ms is the wall time on the CPU time the machine got (see
    :func:`unstolen`). App CPU is the process tree's CPU time less that of
    the JIT compiler threads, which compile in the background at a pace of
    their own."""
    wall = (b[0] - a[0]) * 1e3
    return wall, unstolen(wall, a[3:5], b[3:5]), ((b[1] - a[1]) - (b[2] - a[2])) * 1e3


def cost_summary(pairs: list) -> dict:
    """Medians of :func:`op_cost` over ``(start mark, end mark)`` pairs."""
    costs = [op_cost(a, b) for a, b in pairs]
    nan = float("nan")
    return {
        "wall": _median([c[0] for c in costs], nan),
        "net": _median([c[1] for c in costs], nan),
        "cpu": _median([c[2] for c in costs], nan),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


# ---------------------------------------------------------------------------
# the ingest stream (ingest and mixed)
# ---------------------------------------------------------------------------


@dataclass
class StreamResult:
    epochs: list  # written epochs, in order
    commit_at: list  # perf_counter at the end of each epoch's sink call
    started: float
    trigger_ms: list
    progress: list  # progress dicts of the written epochs
    sink_ms: list
    marks: list = field(default_factory=list)  # at the start, then per landed batch
    error: str | None = None


def run_stream(
    ctx: Ctx,
    src_dir: str,
    files: list[str],
    make_sink,
    deadline: float,
    max_batches: int | None = None,
    on_started=None,
    stop: threading.Event | None = None,
) -> StreamResult:
    """Run the ingest stream over ``src_dir`` (one file per micro-batch)
    until ``deadline`` or ``max_batches``. A batch that starts after that
    is consumed but not landed; the stream is stopped once the last landed
    batch has reported its progress. ``stop`` is set when the last batch
    has landed."""
    spark, tracer = ctx.spark, ctx.tracer
    spec = gen.entity_filter_spec(gen.make_entities(ctx.seed))
    flt = ingest.EntityFilter(**spec)
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    states = (
        ingest.events_to_states(raw, flt, with_location=True)
        .withWatermark("time", WATERMARK)
        .dropDuplicates(["time", "entity_id"])
    )
    inner = make_sink()
    stop = stop or threading.Event()
    res = StreamResult([], [], 0.0, [], [], [])
    listener = None
    if ctx.traced:
        listener = ProgressListener()
        spark.streams.addListener(listener)

    def sink(batch_df, epoch_id):
        if stop.is_set():
            # past the deadline: consume the batch without landing it, so
            # its state-store commits complete before the stream is stopped
            batch_df.write.format("noop").mode("overwrite").save()
            return
        try:
            gid = f"batch-{epoch_id}" if ctx.traced else None
            with tracer.span("stream.batch", op=gid):
                if ctx.traced:
                    _trace_transform(ctx, files[int(epoch_id)], flt)
                with job_group(spark, gid), tracer.span("sink"):
                    t0 = time.perf_counter()
                    inner(batch_df, epoch_id)
                    t1 = time.perf_counter()
        except Exception as e:  # the stream must keep running to report it
            res.error = f"batch {epoch_id}: {type(e).__name__}: {e}"
            stop.set()
            raise
        res.sink_ms.append((t1 - t0) * 1e3)
        res.epochs.append(int(epoch_id))
        res.commit_at.append(t1)
        res.marks.append(ctx.mark())
        if t1 >= deadline or (max_batches and len(res.epochs) >= max_batches):
            stop.set()

    ckpt = os.path.join(ctx.work, f"ckpt-{time.monotonic_ns()}")
    res.marks.append(ctx.mark())
    res.started = res.marks[0][0]
    q = (
        states.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        if on_started is not None:
            on_started()
        while not stop.wait(0.05):
            if not q.isActive or len(res.epochs) >= len(files):
                break
        # wait for the written batches' progress reports, then stop
        want = set(res.epochs)
        t_end = time.perf_counter() + 20
        while time.perf_counter() < t_end:
            got = {p["batchId"] for p in _progress(q)}
            if want <= got or not q.isActive:
                break
            time.sleep(0.05)
        progress = [p for p in _progress(q) if p["batchId"] in want]
        while listener is not None and time.perf_counter() < t_end:
            if want <= {p["batchId"] for p in listener.progress}:
                break
            time.sleep(0.05)
        if not q.isActive and q.exception() is not None and res.error is None:
            res.error = str(q.exception())[:500]
    finally:
        stop.set()
        q.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
    by_id = {p["batchId"]: p for p in progress}
    res.progress = [by_id[e] for e in res.epochs if e in by_id]
    res.trigger_ms = [float(p["durationMs"]["triggerExecution"]) for p in res.progress]
    if listener is not None:
        _trace_stream(ctx, listener.progress, res)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _trace_transform(ctx: Ctx, path: str, flt) -> None:
    """Traced runs only: force ``events_to_states`` on the batch's input file
    and count what each step kept."""
    spark = ctx.spark
    with ctx.tracer.span("ingest.transform") as sp:
        raw = spark.read.schema(EVENT_SCHEMA).parquet(path)
        valid = ingest.valid_event_expr()
        counts = raw.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(~valid | valid.isNull(), 1)).alias("invalid"),
            F.count(F.when(valid & ~flt.expr(), 1)).alias("filtered"),
        ).first()
        out = ingest.events_to_states(raw, flt, with_location=True)
        o = out.agg(F.count(F.lit(1)).alias("n"), F.count("loc_lon").alias("loc")).first()
    lay = ctx.layers
    lay["ingest.rows_in"] = lay.get("ingest.rows_in", 0) + counts["n"]
    lay["ingest.rows_invalid"] = lay.get("ingest.rows_invalid", 0) + counts["invalid"]
    lay["ingest.rows_filtered"] = lay.get("ingest.rows_filtered", 0) + counts["filtered"]
    lay["ingest.rows_out"] = lay.get("ingest.rows_out", 0) + o["n"]
    lay["ingest.rows_located"] = lay.get("ingest.rows_located", 0) + o["loc"]
    lay.setdefault("_transform_ms", []).append((sp["end"] - sp["start"]) * 1e3)


def _trace_stream(ctx: Ctx, progress: list, res: StreamResult) -> None:
    want = set(res.epochs)
    ps = [p for p in progress if p["batchId"] in want]
    lay = ctx.layers

    def dur(p, *keys):
        return float(sum(p["durationMs"].get(k, 0) for k in keys))

    lay["streaming.ingest.batches"] = len(ps)
    lay["streaming.ingest.trigger_ms"] = _median([dur(p, "triggerExecution") for p in ps])
    lay["streaming.ingest.plan_ms"] = _median([dur(p, "queryPlanning") for p in ps])
    lay["streaming.ingest.offset_ms"] = _median([dur(p, "latestOffset", "getBatch") for p in ps])
    lay["streaming.ingest.add_batch_ms"] = _median([dur(p, "addBatch") for p in ps])
    lay["streaming.ingest.commit_ms"] = _median([dur(p, "commitOffsets", "walCommit") for p in ps])
    ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
    if ops:
        lay["streaming.ingest.state_rows"] = ops[-1].get("numRowsTotal", 0)
        lay["streaming.ingest.state_mb"] = ops[-1].get("memoryUsedBytes", 0) / 2**20
        lay["streaming.ingest.late_dropped"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)


def stream_summary(res: StreamResult) -> dict:
    n = len(res.epochs)
    span = (res.commit_at[-1] - res.started) if n else float("nan")
    lat = latency_summary(res.trigger_ms)
    return {
        "events_per_s": n * EVENTS_PER_FILE / span if n else float("nan"),
        "batch": lat,
        # from the end of one landed batch to the end of the next
        "cost": cost_summary(list(zip(res.marks, res.marks[1:]))),
    }


def check_stream_table(ctx: Ctx, res: StreamResult, files: list[str], got, base=None) -> None:
    """The landed table must equal the independent recomputation over the
    files the written batches consumed (plus the base history, if any)."""
    ctx.attempted += 1
    n = len(res.epochs)
    if res.epochs != list(range(n)):
        ctx.fail("stream table", f"written epochs not contiguous: {res.epochs[:10]}")
        return
    spec = gen.entity_filter_spec(gen.make_entities(ctx.seed))
    want = oracle.expected_states(files[:n], spec, watermark_us=gen.WATERMARK_US)
    if base is not None:
        want = pd.concat([base, want], ignore_index=True)
    diff = oracle.compare_tables(got, want)
    if diff is not None:
        ctx.fail("stream table", diff)
    else:
        ctx.report.append(f"check: stream table equals recomputation ({len(want)} rows, {n} batches)")


# ---------------------------------------------------------------------------
# dashboard queries (dashboard and mixed)
# ---------------------------------------------------------------------------


class QueryMix:
    """Seeded closed-loop query stream: every cycle issues each of the five
    kinds once, in a fresh random order; entities are drawn with the event
    popularity, times uniformly inside ``[t_lo, t_hi)``."""

    def __init__(self, seed: int, t_lo: int, t_hi: int):
        self.rng = np.random.default_rng([seed, 10])
        self.ents = gen.make_entities(seed)
        spec = gen.entity_filter_spec(self.ents)
        self.t_lo, self.t_hi = t_lo, t_hi
        self.stored = {
            d: np.array(
                [e for e in self.ents.ids[d] if oracle._keep_entity(e, spec)], dtype=object
            )
            for d in spec["include_domains"]
        }
        self.weights = {}
        for d, ids in self.stored.items():
            w = 1.0 / np.arange(1, len(ids) + 1) ** gen.ZIPF_S
            self.weights[d] = w / w.sum()
        self.cycle: list[str] = []

    def _entity(self, domain: str | None = None) -> str:
        if domain is None:
            doms = list(self.stored)
            domain = doms[int(self.rng.integers(len(doms)))]
        return str(self.rng.choice(self.stored[domain], p=self.weights[domain]))

    def _start(self, width: int) -> int:
        return int(self.rng.integers(self.t_lo, self.t_hi - width))

    def next(self) -> tuple[str, dict]:
        if not self.cycle:
            self.cycle = list(self.rng.permutation(KINDS))
        kind = self.cycle.pop()
        if kind == "range":
            s = self._start(DAY_US)
            p = {"eid": self._entity(), "lo": s, "hi": s + DAY_US}
        elif kind == "latest":
            p = {}
        elif kind == "snapshot":
            # "the house at time X" during the last week of the history
            p = {"at": int(self.rng.integers(self.t_hi - 7 * DAY_US, self.t_hi))}
        else:
            s = self._start(7 * DAY_US)
            p = {"eid": self._entity("sensor"), "lo": s, "hi": s + 7 * DAY_US}
        p["check"] = bool(self.rng.random() < 0.2)
        return kind, p


def build_query(states, kind: str, p: dict):
    """The operator call for one query kind; returns the result frame."""
    if kind == "range":
        return timeseries.entity_range_scan(states, p["eid"], to_dt(p["lo"]), to_dt(p["hi"]))
    if kind == "latest":
        return timeseries.latest_state(states)
    if kind == "snapshot":
        return timeseries.snapshot_at(states, to_dt(p["at"]))
    window = states.filter(
        (F.col("entity_id") == p["eid"])
        & (F.col("time") >= to_dt(p["lo"]))
        & (F.col("time") < to_dt(p["hi"]))
    )
    if kind == "bucket":
        return timeseries.time_bucket_agg(window, "1 hour")
    return gapfill.time_bucket_gapfill(
        window, "time", ["entity_id"], F.avg(F.col("state").try_cast("double")), bucket="1 hour"
    )


@dataclass
class QueryLog:
    kinds: list = field(default_factory=list)
    ms: list = field(default_factory=list)
    samples: list = field(default_factory=list)  # (kind, params, rows, table files)
    marks: list = field(default_factory=list)  # (start mark, end mark) per query
    issued: int = 0
    layer: dict = field(default_factory=lambda: {k: {f: [] for f in LAYER_FIELDS} for k in KINDS})
    started: float = 0.0
    ended: float = 0.0


def run_queries(ctx: Ctx, mix: QueryMix, open_table, keep_going, log: QueryLog) -> None:
    """Closed loop: issue the next query as soon as the previous one's last
    row is on the driver, while ``keep_going()``. ``open_table()`` returns
    ``(states frame, files it reads)``."""
    spark, tracer = ctx.spark, ctx.tracer
    log.started = time.perf_counter()
    i = 0
    while keep_going():
        kind, p = mix.next()
        i += 1
        log.issued += 1
        gid = f"q{i}-{kind}" if ctx.traced else None
        ctx.attempted += 1
        m0 = ctx.mark()
        try:
            with job_group(spark, gid), tracer.span(f"query.{kind}", op=gid) as sp:
                t0 = time.perf_counter()
                states, files = open_table()
                t1 = time.perf_counter()
                df = build_query(states, kind, p)
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
        except Exception as e:
            ctx.fail(f"query {kind} {p}", f"{type(e).__name__}: {str(e)[:300]}")
            continue
        log.marks.append((m0, ctx.mark()))
        log.kinds.append(kind)
        log.ms.append((t3 - t0) * 1e3)
        if p["check"]:
            log.samples.append((kind, p, rows, files))
        if sp is not None:
            lay = log.layer[kind]
            lay["build_ms"].append((t2 - t1) * 1e3)
            lay["exec_ms"].append((t3 - t2) * 1e3)
            lay["rows_out"].append(len(rows))
            lay["files_read"].append(scan_files(df))
            sp["group"] = gid
    log.ended = time.perf_counter()


def finish_query_layers(ctx: Ctx, log: QueryLog) -> None:
    """Traced runs: fold the per-query job-group counts into the layers."""
    drain_listener_bus(ctx.spark)
    by_kind = {k: [] for k in KINDS}
    for s in ctx.tracer.spans:
        if s["name"].startswith("query.") and s.get("group"):
            by_kind[s["name"][6:]].append(group_counts(ctx.spark, s["group"]))
    for kind in KINDS:
        lay = log.layer[kind]
        lay["jobs"] = [c["jobs"] for c in by_kind[kind]]
        lay["tasks"] = [c["tasks"] for c in by_kind[kind]]
        lay["rows_scanned"] = [c["input_rows"] for c in by_kind[kind]]
        prefix = "operators.gapfill" if kind == "gapfill" else f"operators.timeseries.{kind}"
        for f in LAYER_FIELDS:
            ctx.layers[f"{prefix}.{f}"] = _median(lay[f])


def query_summary(log: QueryLog) -> dict:
    """Throughput over every query; latency over complete mix cycles only,
    so each kind weighs the same in the pooled median."""
    whole = len(log.ms) // len(KINDS) * len(KINDS) or len(log.ms)
    out = {
        "queries_per_s": len(log.ms) / (log.ended - log.started) if log.ms else float("nan"),
        "query": latency_summary(log.ms[:whole]),
        "cost": cost_summary(log.marks[:whole]),
    }
    for k in KINDS:
        out[f"{k}_p50_ms"] = _median([m for m, kk in zip(log.ms, log.kinds) if kk == k], float("nan"))
    return out


def check_queries(ctx: Ctx, log: QueryLog) -> None:
    """Recompute the sampled queries with DuckDB over the parquet files each
    one read."""
    oracles: dict[tuple, oracle.QueryOracle] = {}
    bad = 0
    try:
        for kind, p, rows, files in log.samples:
            key = tuple(files)
            if key not in oracles:
                oracles[key] = oracle.QueryOracle(list(files))
            err = _check_query(oracles[key], kind, p, rows)
            if err is not None:
                bad += 1
                ctx.fail(f"query check {kind} {p}", err)
    finally:
        for o in oracles.values():
            o.close()
    ctx.report.append(f"check: {len(log.samples) - bad}/{len(log.samples)} sampled queries match DuckDB")


def _check_query(o: oracle.QueryOracle, kind: str, p: dict, rows) -> str | None:
    if kind == "range":
        got = [
            (to_us(r["time"]), r["entity_id"], r["state"], r["attributes"], r["loc_lon"], r["loc_lat"])
            for r in rows
        ]
        want = o.range(p["eid"], p["lo"], p["hi"])
        if len(got) != len(want):
            return f"{len(got)} rows vs {len(want)}"
        for g, w in zip(got, want):
            if g[:4] != w[:4] or not (oracle.close(g[4], w[4]) and oracle.close(g[5], w[5])):
                return f"row {g} vs {w}"
        return None
    if kind in ("latest", "snapshot"):
        names = ("last_time", "last_state") if kind == "latest" else ("as_of_time", "as_of_state")
        got = {(r["entity_id"], to_us(r[names[0]]), r[names[1]]) for r in rows}
        want = o.latest(None if kind == "latest" else p["at"])
        if got != want:
            return f"{len(got ^ want)} of {len(want)} entity rows differ"
        return None
    if kind == "bucket":
        want = o.buckets(p["eid"], p["lo"], p["hi"])
        got = {to_us(r["bucket_start"]): (r["n_events"], r["avg_state"], r["min_state"], r["max_state"]) for r in rows}
        if set(got) != set(want):
            return f"buckets {len(got)} vs {len(want)}"
        for b, g in got.items():
            if not all(oracle.close(a, c) for a, c in zip(g, want[b])):
                return f"bucket {b}: {g} vs {want[b]}"
        return None
    want = o.gapfill(p["eid"], p["lo"], p["hi"])
    got = sorted(
        (to_us(r["bucket_ts"]), r["agg_value"], r["filled_value"], r["is_gap"]) for r in rows
    )
    if len(got) != len(want):
        return f"{len(got)} buckets vs {len(want)}"
    for g, w in zip(got, want):
        if g[0] != w[0] or g[3] != w[3] or not (oracle.close(g[1], w[1]) and oracle.close(g[2], w[2])):
            return f"bucket {g} vs {w}"
    return None


def parquet_files(*dirs: str) -> list[str]:
    return sorted(
        os.path.join(r, f)
        for d in dirs
        for r, _d, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet") and "_bucket_stats" not in r
    )


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def window_ops(seconds: float, per_s: float) -> int:
    """Operations a window does: ``per_s`` per second of ``--seconds``."""
    return max(int(seconds * per_s), 1)


def history_files(ctx: Ctx, out: str, n_files: int = HISTORY_FILES) -> list[str]:
    """Six months of events in ``n_files`` files."""
    span = HISTORY_FILES * HISTORY_SPAN // n_files
    return gen.event_files(ctx.seed, out, n_files, HISTORY_START, span, EVENTS_PER_FILE)


def history_states(ctx: Ctx, src: str):
    spec = gen.entity_filter_spec(gen.make_entities(ctx.seed))
    raw = ctx.spark.read.schema(EVENT_SCHEMA).parquet(src)
    return ingest.events_to_states(raw, ingest.EntityFilter(**spec), with_location=True)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Ingest:
    name = "ingest"

    def __init__(self, seconds: float):
        self.n_batches = window_ops(seconds, INGEST_BATCHES_PER_S)

    def prepare(self, ctx: Ctx, out: str) -> None:
        self.src = os.path.join(out, "events")
        n_files = max(self.n_batches, WARM_BATCHES)
        self.files = gen.event_files(
            ctx.seed, self.src, n_files, STREAM_START, STREAM_SPAN, EVENTS_PER_FILE
        )

    def _sink(self, path):
        return lambda: stream_ingest.make_upsert_sink(path, tie_breaker=None)

    def warmup(self, ctx: Ctx) -> None:
        path = os.path.join(ctx.work, "warm-table")
        run_stream(
            ctx, self.src, self.files, self._sink(path), float("inf"), max_batches=WARM_BATCHES
        )
        shutil.rmtree(path, ignore_errors=True)

    def window(self, ctx: Ctx, seconds: float) -> dict:
        path = os.path.join(ctx.work, f"table-{time.monotonic_ns()}")
        res = run_stream(
            ctx, self.src, self.files, self._sink(path), float("inf"), max_batches=self.n_batches
        )
        ctx.mark_peak()
        ctx.attempted += len(res.epochs) + (1 if res.error else 0)
        if res.error:
            ctx.fail("stream", res.error)
        s = stream_summary(res)
        if ctx.traced:
            self._trace_sink(ctx, res, path)
        check_stream_table(ctx, res, self.files, oracle.read_state_table([path]))
        shutil.rmtree(path, ignore_errors=True)
        return {
            "cost": s["cost"],
            "lines": [
                ("events_per_s", s["events_per_s"], "events/s"),
                ("batch_p50_ms", s["batch"]["p50"], "ms"),
                ("batch_tail_ms", s["batch"]["tail"], "ms", s["batch"]),
            ],
        }

    def _trace_sink(self, ctx: Ctx, res: StreamResult, path: str) -> None:
        drain_listener_bus(ctx.spark)
        counts = [group_counts(ctx.spark, f"batch-{e}") for e in res.epochs]
        written = sum(c["output_bytes"] for c in counts)
        final = dir_bytes(path)
        rows = len(oracle.read_state_table([path])) if final else 0
        lay = ctx.layers
        lay["sources.batch.sink_ms"] = _median(res.sink_ms)
        lay["sources.batch.jobs_per_batch"] = _median([c["jobs"] for c in counts])
        lay["sources.batch.bytes_written"] = written
        lay["sources.batch.write_amp"] = written / final if final else 0.0
        lay["sources.batch.files"] = len(parquet_files(path))
        lay["sources.batch.bytes_per_event"] = final / rows if rows else 0.0


class Dashboard:
    name = "dashboard"

    def prepare(self, ctx: Ctx, out: str) -> None:
        src = os.path.join(out, "history")
        history_files(ctx, src)
        self.table = os.path.join(out, "table")
        gid = f"build-{time.monotonic_ns()}" if ctx.traced else None
        with job_group(ctx.spark, gid), ctx.tracer.span("sources.batch.build", op=gid) as sp:
            states = ingest.dedup_primary_key(history_states(ctx, src))
            sources_batch.write_partitioned(states, self.table)
        if sp is not None:
            self._trace_build(ctx, src, gid, (sp["end"] - sp["start"]) * 1e3)
        self.files = parquet_files(self.table)
        self.mix_range = (HISTORY_START, HISTORY_START + HISTORY_FILES * HISTORY_SPAN)

    def _trace_build(self, ctx: Ctx, src: str, gid: str, ms: float) -> None:
        drain_listener_bus(ctx.spark)
        c = group_counts(ctx.spark, gid)
        ctx.layers = {
            k: v for k, v in ctx.layers.items() if not k.startswith(("ingest.", "_transform"))
        }
        spec = gen.entity_filter_spec(gen.make_entities(ctx.seed))
        flt = ingest.EntityFilter(**spec)
        for f in sorted(os.listdir(src)):
            _trace_transform(ctx, os.path.join(src, f), flt)
        final = dir_bytes(self.table)
        rows = ctx.spark.read.parquet(self.table).count()
        lay = ctx.layers
        lay["sources.batch.sink_ms"] = ms
        lay["sources.batch.jobs_per_batch"] = c["jobs"]
        lay["sources.batch.bytes_written"] = c["output_bytes"]
        lay["sources.batch.write_amp"] = c["output_bytes"] / final if final else 0.0
        lay["sources.batch.files"] = len(parquet_files(self.table))
        lay["sources.batch.bytes_per_event"] = final / rows if rows else 0.0

    def _open(self):
        return self.spark.read.parquet(self.table), self.files

    def warmup(self, ctx: Ctx) -> None:
        self.spark = ctx.spark
        mix = QueryMix(ctx.seed + 7919, *self.mix_range)
        for kind in KINDS:
            states, _ = self._open()
            build_query(states, kind, _params_for(mix, kind)).collect()

    def window(self, ctx: Ctx, seconds: float) -> dict:
        self.spark = ctx.spark
        mix = QueryMix(ctx.seed, *self.mix_range)
        log = QueryLog()
        deadline = time.perf_counter() + seconds
        run_queries(ctx, mix, self._open, lambda: time.perf_counter() < deadline, log)
        ctx.mark_peak()
        if ctx.traced:
            finish_query_layers(ctx, log)
        check_queries(ctx, log)
        q = query_summary(log)
        return {"cost": q["cost"], "lines": query_lines(q)}


def _params_for(mix: QueryMix, kind: str) -> dict:
    """Warm-up helper: draw parameters for a given kind."""
    while True:
        k, p = mix.next()
        if k == kind:
            return p


def query_lines(q: dict) -> list:
    lines = [
        ("queries_per_s", q["queries_per_s"], "queries/s"),
        ("query_p50_ms", q["query"]["p50"], "ms"),
        ("query_tail_ms", q["query"]["tail"], "ms", q["query"]),
    ]
    return lines + [(f"{k}_p50_ms", q[f"{k}_p50_ms"], "ms") for k in KINDS]


class Mixed:
    name = "mixed"
    APP = "perfbench"
    #: half the dashboard's history: the same six months, half as dense
    HISTORY_FILES = 10

    def __init__(self, seconds: float):
        self.n_batches = window_ops(seconds, MIXED_BATCHES_PER_S)
        self.n_queries = window_ops(seconds, MIXED_QUERIES_PER_S)

    def prepare(self, ctx: Ctx, out: str) -> None:
        src = os.path.join(out, "history")
        hist_files = history_files(ctx, src, self.HISTORY_FILES)
        self.table = os.path.join(out, "table")
        states = ingest.dedup_primary_key(history_states(ctx, src))
        snapshot.commit(states, self.table, mode="overwrite")
        self.base_version = snapshot.versions(self.table)[-1]
        self.hist_files = hist_files
        self.base = None
        self.src = os.path.join(out, "events")
        self.files = gen.event_files(
            ctx.seed, self.src, self.n_batches, STREAM_START, STREAM_SPAN, EVENTS_PER_FILE
        )
        self.mix_range = (HISTORY_START, HISTORY_START + HISTORY_FILES * HISTORY_SPAN)
        self.windows = 0

    def _version_files(self, v: int) -> list[str]:
        with open(os.path.join(self.table, "_manifests", f"v{v}.json")) as fh:
            dirs = json.load(fh)["dirs"]
        return parquet_files(*[os.path.join(self.table, d) for d in dirs])

    def _open(self):
        v = snapshot.versions(self.table)[-1]
        with self.tracer.span("operators.snapshot.read_version"):
            df = snapshot.read_version(self.spark, self.table, version=v)
        return df, ("v", v)

    def _sink(self, app: str):
        sink = snapshot.make_snapshot_sink(self.table, app)
        tracer = self.tracer

        def traced_sink(batch_df, epoch_id):
            with tracer.span("operators.snapshot.commit"):
                sink(batch_df, epoch_id)

        return lambda: traced_sink

    def warmup(self, ctx: Ctx) -> None:
        """The stream and the client together; the window then streams the
        same files again from a fresh checkpoint."""
        mix = QueryMix(ctx.seed + 7919, *self.mix_range)
        self._run(ctx, "warm", mix, deadline=time.perf_counter() + WARM_SECONDS)

    def _rewind(self) -> None:
        """Point the latest version back at the base history."""
        snapshot.rollback(self.table, self.base_version)

    def _run(self, ctx: Ctx, app: str, mix, deadline=float("inf"), max_batches=None, n_queries=None):
        """The stream from the base version, with the client beside it, until
        ``deadline`` or ``max_batches``. The client issues ``n_queries``, or
        without a count stops when the stream has landed its last batch."""
        self.spark, self.tracer = ctx.spark, ctx.tracer
        self._rewind()
        log = QueryLog()
        started, landed = threading.Event(), threading.Event()
        client_err = []

        def keep_going():
            return not landed.is_set() if n_queries is None else log.issued < n_queries

        def client():
            started.wait()
            try:
                run_queries(ctx, mix, self._open, keep_going, log)
            except Exception as e:  # reported below
                client_err.append(e)

        th = threading.Thread(target=client, name="dashboard-client")
        th.start()
        try:
            res = run_stream(
                ctx, self.src, self.files, self._sink(app), deadline, max_batches,
                on_started=started.set, stop=landed,
            )
        finally:
            started.set()
            landed.set()
            th.join()
        if client_err:
            ctx.fail("client", client_err[0])
        return res, log

    def window(self, ctx: Ctx, seconds: float) -> dict:
        self.windows += 1
        mix = QueryMix(ctx.seed, *self.mix_range)
        res, log = self._run(
            ctx, f"{self.APP}-{self.windows}", mix, max_batches=self.n_batches,
            n_queries=self.n_queries,
        )
        ctx.mark_peak()
        ctx.attempted += len(res.epochs) + (1 if res.error else 0)
        if res.error:
            ctx.fail("stream", res.error)
        # resolve each sampled query's version to its files
        log.samples = [(k, p, rows, self._version_files(f[1])) for k, p, rows, f in log.samples]
        if ctx.traced:
            finish_query_layers(ctx, log)
            lay = ctx.layers
            lay["operators.snapshot.commit_ms"] = _median(ctx.tracer.durations_ms("operators.snapshot.commit"))
            lay["operators.snapshot.read_plan_ms"] = _median(
                ctx.tracer.durations_ms("operators.snapshot.read_version")
            )
        v = snapshot.versions(self.table)[-1]
        with open(os.path.join(self.table, "_manifests", f"v{v}.json")) as fh:
            live = json.load(fh)["dirs"]
        if ctx.traced:
            ctx.layers["operators.snapshot.live_dirs"] = len(live)
        got = oracle.read_state_table([os.path.join(self.table, d) for d in live])
        if self.base is None:
            spec = gen.entity_filter_spec(gen.make_entities(ctx.seed))
            self.base = oracle.expected_states(self.hist_files, spec)
        check_stream_table(ctx, res, self.files, got, base=self.base)
        check_queries(ctx, log)
        s = stream_summary(res)
        q = query_summary(log)
        sc, qc = s["cost"], q["cost"]
        # the window: from the stream's start to the later of its last batch
        # and the client's last query; both sides do a fixed amount of work
        end = max([res.marks[-1]] + [m[1] for m in log.marks[-1:]], key=lambda m: m[0])
        span = op_cost(res.marks[0], end)
        ops = len(res.epochs) + len(log.marks)
        return {
            # writes and reads share the cores: the slower side's median, so
            # neither side can hide behind the other or gain at its expense
            "cost": {
                "net": max(sc["net"], qc["net"]),
                "wall": max(sc["wall"], qc["wall"]),
                "cpu": span[2] / max(ops, 1),
            },
            "lines": [
                ("events_per_s", s["events_per_s"], "events/s"),
                ("batch_p50_ms", s["batch"]["p50"], "ms"),
                ("batch_tail_ms", s["batch"]["tail"], "ms", s["batch"]),
            ]
            + query_lines(q),
        }


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, seconds: float):
        self.n_runs = window_ops(seconds, CORPUS_RUNS_PER_S)

    def prepare(self, ctx: Ctx, out: str) -> None:
        self.corpus = gen.corpus(
            ctx.seed, os.path.join(out, "docs", "docs.parquet"),
            n_base=1200, n_exact_groups=75, n_near=150,
        )

    def _pipeline(self, ctx: Ctx, op: str | None) -> dict:
        spark, tracer = ctx.spark, ctx.tracer
        with job_group(spark, op), tracer.span("corpus.pipeline", op=op):
            docs = spark.read.parquet(self.corpus.path)
            t0 = time.perf_counter()
            with tracer.span("operators.dedup.exact"):
                groups = dedup.exact_dedup_groups(docs).filter("n_dups > 1").collect()
            t1 = time.perf_counter()
            with tracer.span("operators.dedup.minhash"):
                pairs = dedup.minhash_verified_pairs(docs).localCheckpoint()
                pair_rows = pairs.collect()
            t2 = time.perf_counter()
            with tracer.span("operators.graph.cluster"):
                verified = pairs.filter("verified")
                clusters = (
                    graph.dedup_clusters(docs, verified)
                    .groupBy("cluster_id")
                    .agg(F.count(F.lit(1)).alias("n"), F.collect_list("doc_id").alias("members"))
                    .filter("n > 1")
                    .collect()
                )
            t3 = time.perf_counter()
        return {
            "ms": (t3 - t0) * 1e3,
            "exact_ms": (t1 - t0) * 1e3,
            "minhash_ms": (t2 - t1) * 1e3,
            "cluster_ms": (t3 - t2) * 1e3,
            "groups": groups,
            "pairs": pair_rows,
            "clusters": clusters,
        }

    def warmup(self, ctx: Ctx) -> None:
        for _ in range(WARM_RUNS):
            self._pipeline(ctx, None)

    def _check(self, ctx: Ctx, r: dict) -> tuple[float | None, str | None]:
        c = self.corpus
        got = sorted((g["canonical_id"], g["n_dups"]) for g in r["groups"])
        want = sorted((min(g), len(g)) for g in c.exact_groups)
        if got != want:
            return None, f"exact groups {len(got)} vs planted {len(want)}"
        cluster_of = {d: cl["cluster_id"] for cl in r["clusters"] for d in cl["members"]}
        for g in c.exact_groups:
            if len({cluster_of.get(d) for d in g}) != 1 or cluster_of.get(g[0]) is None:
                return None, f"planted group {g} split across clusters"
        verified = {(p["doc_a"], p["doc_b"]) for p in r["pairs"] if p["verified"]}
        verified |= {(b, a) for a, b in verified}
        recall = sum(1 for a, b in c.near_pairs if (a, b) in verified) / len(c.near_pairs)
        return recall, None

    def window(self, ctx: Ctx, seconds: float) -> dict:
        runs, marks, recall = [], [], None
        start = time.perf_counter()
        for i in range(1, self.n_runs + 1):
            op = f"dedup-{i}" if ctx.traced else None
            ctx.attempted += 1
            m0 = ctx.mark()
            try:
                r = self._pipeline(ctx, op)
            except Exception as e:
                ctx.fail(f"pipeline {i}", f"{type(e).__name__}: {str(e)[:300]}")
                continue
            marks.append((m0, ctx.mark()))
            recall, err = self._check(ctx, r)
            if err is not None:
                ctx.fail(f"pipeline {i} check", err)
            runs.append(r)
        elapsed = time.perf_counter() - start
        ctx.mark_peak()
        ms = [r["ms"] for r in runs]
        if runs and recall is not None:
            last = runs[-1]
            n_cand = len(last["pairs"])
            n_ver = sum(1 for p in last["pairs"] if p["verified"])
            ctx.report.append(
                f"check: exact groups equal the {len(self.corpus.exact_groups)} planted groups; "
                f"near-dup recall {recall:.4f} on {len(self.corpus.near_pairs)} planted pairs"
            )
            if ctx.traced:
                lay = ctx.layers
                lay["operators.dedup.exact_ms"] = _median([r["exact_ms"] for r in runs])
                lay["operators.dedup.exact_groups"] = len(last["groups"])
                lay["operators.dedup.minhash_ms"] = _median([r["minhash_ms"] for r in runs])
                lay["operators.dedup.candidate_pairs"] = n_cand
                lay["operators.dedup.verified_pairs"] = n_ver
                lay["operators.dedup.pair_precision"] = n_ver / n_cand if n_cand else 0.0
                lay["operators.dedup.recall"] = recall or 0.0
                lay["operators.graph.cluster_ms"] = _median([r["cluster_ms"] for r in runs])
                lay["operators.graph.clusters"] = len(last["clusters"])
        docs_per_s = self.corpus.n_docs * len(runs) / elapsed if runs else float("nan")
        return {
            "cost": cost_summary(marks),
            "lines": [
                ("docs_per_s", docs_per_s, "docs/s"),
                ("pipeline_p50_ms", _median(ms, float("nan")), "ms"),
            ],
        }


def make(name: str, seconds: float):
    return {
        "ingest": lambda: Ingest(seconds),
        "dashboard": Dashboard,
        "mixed": lambda: Mixed(seconds),
        "corpus_dedup": lambda: CorpusDedup(seconds),
    }[name]()
