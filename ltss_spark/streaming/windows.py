"""Streaming window operators over the bounded event stream (SURVEY.md §2.C
stream_window_tumbling / _sliding / _session, stream_dedup,
stream_late_drop).

The reference ingests an unbounded event stream into a hypertable and lets
TimescaleDB `time_bucket` queries aggregate it after the fact
(/root/reference/README.md:24-26). Structured Streaming moves those
aggregations INTO the stream: the same tumbling/sliding/session shapes run
incrementally with bounded state. Every operator here is driven with
Trigger.AvailableNow over the driver's static events table, so the result
is deterministic and oracle-checkable — the streaming plan is the real
plan, only the trigger is bounded.

Scale notes: windowed aggregation state is per (key, window) and evicted by
watermark — state size is bounded by (#keys x #open windows), independent
of stream length. The memory sink is test-only plumbing; production sinks
are the foreachBatch path in ltss_spark.streaming.ingest.
"""

from __future__ import annotations

import math
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ltss_spark.session import scoped_conf
from ltss_spark.sources.batch import normalize_event_times

#: session-conf key a stream fixes its state-store partition count from at
#: start — the key of a ``run_to_memory`` start-time override
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
#: start-time override that keeps a stream's state in RocksDB (the
#: transformWithStateInPandas operators require it)
ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}

#: bytes of bounded-stream input per state partition. One state store
#: instance (plus its per-micro-batch commit) per partition is the fixed
#: cost being sized here, so the target is deliberately coarse; the floor
#: keeps a handful of stores even for tiny fixtures (measured r13: a
#: single-partition stream SERIALIZES the python-worker and commit path
#: and loses ~25%).
_STATE_PARTITION_TARGET_BYTES = 64 << 20


def bounded_source_state_partitions(
    *paths: str, floor: int = 4, target_bytes: int = _STATE_PARTITION_TARGET_BYTES
) -> int:
    """State/shuffle partition count for a BOUNDED file-fed stream, derived
    from the actual input size instead of inherited from the batch
    session's core-count constant (guide §2: scale-adaptive partitioning;
    streaming has no AQE to coalesce for us, so every stateful micro-batch
    otherwise runs ``spark.sql.shuffle.partitions`` state-store instances
    — 32 on this box — each paying an open+commit per batch. Measured r13
    at sf0.01: stream-stream join 7.0 s -> 2.9 s, TWS running totals
    8.1 s -> 5.0 s, rows identical).

    The env override ``LTSS_STREAM_STATE_PARTITIONS`` pins the count for
    production long-running jobs, where state partitioning is a durable
    checkpoint property sized for peak throughput, not for the first
    batch's input."""
    env = os.environ.get("LTSS_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return max(floor, math.ceil(total / target_bytes))

#: (applicationId, path, mtime_ns, size) -> RAW file schema. Every stream
#: entry pays a ~0.1 s footer read for the batch schema peek; the RAW
#: schema (pre-normalization — readStream must see what is in the file,
#: so load_table's cached normalized frame is the WRONG schema here) is
#: immutable per file version, same invalidation rule as the table-handle
#: cache.
_RAW_SCHEMAS: dict[tuple, object] = {}


def raw_parquet_schema(spark: SparkSession, path: str):
    import os

    try:
        st = os.stat(path)
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        key = None
    if key is not None and key in _RAW_SCHEMAS:
        return _RAW_SCHEMAS[key]
    schema = spark.read.parquet(path).schema
    if key is not None:
        if len(_RAW_SCHEMAS) > 256:
            _RAW_SCHEMAS.clear()
        _RAW_SCHEMAS[key] = schema
    return schema


def bounded_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """The driver's events table as a file stream (schema from a batch peek;
    pathGlobFilter narrows the directory to the one table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = raw_parquet_schema(spark, f"{source_dir}/events.parquet")
    return normalize_event_times(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(source_dir)
    )


def run_to_memory(
    df: DataFrame,
    output_mode: str,
    name_hint: str,
    start_conf: dict | None = None,
) -> DataFrame:
    """Run a bounded streaming query to completion through a memory sink and
    return the finished result as a batch DataFrame.

    ``start_conf`` overrides session conf for the query's ``.start()`` only
    (:func:`ltss_spark.session.scoped_conf`): the query clones the session
    there, so e.g. ``{SHUFFLE_PARTITIONS: bounded_source_state_partitions(...)}``
    fixes the state-store partition count for the checkpoint's lifetime —
    for these bounded one-shot runs, exactly this call — while the session
    itself is restored before the query runs."""
    spark = df.sparkSession
    name = f"{name_hint}_{uuid.uuid4().hex[:12]}"
    with scoped_conf(spark, start_conf or {}):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(name)


def streaming_sliding_counts(
    spark: SparkSession,
    source_dir: str,
    duration: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """stream_window_sliding: each event lands in duration/slide overlapping
    windows; Spark expands the membership set inline (no self-join)."""
    raw = bounded_events_stream(spark, source_dir)
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    return run_to_memory(agg, "complete", "stream_sliding", {SHUFFLE_PARTITIONS: n_parts})


def streaming_session_windows(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """stream_window_session: per-user activity episodes; a session closes
    when the next event is STRICTLY more than ``gap`` after the previous one
    (an event landing exactly on the previous window's end merges into it;
    end = last_event + gap). State per OPEN session only —
    the 100 TB shape for "episode" detection the reference's schema can
    only express as a post-hoc gaps-and-islands SQL query."""
    raw = bounded_events_stream(spark, source_dir)
    agg = (
        raw.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("event_id").alias("id_checksum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "id_checksum",
        )
    )
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    return run_to_memory(agg, "complete", "stream_session", {SHUFFLE_PARTITIONS: n_parts})


def streaming_dedup(spark: SparkSession, source_dir: str) -> DataFrame:
    """stream_dedup: exactly-once key emission under at-least-once delivery
    — the streaming form of the reference's PK(time, entity_id) uniqueness
    (/root/reference/custom_components/ltss/models.py:31-32). State is one
    entry per seen key; production use bounds it with a watermark (see
    ltss_spark.streaming.ingest)."""
    raw = bounded_events_stream(spark, source_dir)
    deduped = raw.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    return run_to_memory(deduped, "append", "stream_dedup", {SHUFFLE_PARTITIONS: n_parts})


def streaming_counts_dropping_late(
    raw: DataFrame,
    bucket: str = "1 hour",
    delay: str = "0 seconds",
    state_partitions: int | None = None,
) -> DataFrame:
    """stream_late_drop: watermark-based late-row dropping.

    ``raw`` is any streaming DataFrame with event-time ``ts`` and
    ``event_type``. The watermark EFFECTIVE in micro-batch N is the one
    computed after batch N-1 (one-batch lag — verified empirically on this
    Spark version); rows older than it are dropped (visible as
    numRowsDroppedByWatermark). This is the streaming analogue of the
    reference's drop-bad-rows policy
    (/root/reference/custom_components/ltss/__init__.py:212-216): bounded
    staleness instead of unbounded buffering.

    Returns final per-bucket counts EXCLUDING dropped stragglers. The
    micro-batch choreography that makes the drop observable on a static
    fixture (file splitting + mtime ordering) is harness code, not part of
    this plan — see ltss_spark.plans.registry_stream.stage_late_arrivals.
    """
    agg = (
        raw.withWatermark("ts", delay)
        .groupBy(F.window("ts", bucket).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )
    out = run_to_memory(
        agg, "update", "stream_late", {SHUFFLE_PARTITIONS: state_partitions}
    )
    # update mode re-emits a group each time it changes; keep the final count
    return (
        out.groupBy("bucket_start", "event_type")
        .agg(F.max("n").alias("n"))
    )


def streaming_interval_join(
    spark: SparkSession,
    source_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """stream_join: STREAM-STREAM inner join — right-side events attributed
    to a left-side event of the same user within ``within`` after it (the
    click->purchase attribution shape).

    Both sides carry a watermark and the join condition bounds event time
    in BOTH directions, so Spark can size the join state buffer and evict
    rows the watermark has passed — the requirement for an unbounded
    stream-stream join to run with finite state (Structured Streaming
    docs: "inner joins with watermarking + event-time constraints"). At
    100 TB/day the state held is one watermark-window per side, not the
    stream history.
    """
    left = (
        bounded_events_stream(spark, source_dir)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("ts").alias("left_ts"),
            F.col("event_id").alias("left_id"),
        )
        .withWatermark("left_ts", watermark)
    )
    right = (
        bounded_events_stream(spark, source_dir)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
            F.col("event_id").alias("right_id"),
        )
        .withWatermark("right_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}")),
    ).select("user_id", "left_id", "left_ts", "right_id", "right_ts")
    # a stream-stream join keeps FOUR state stores per partition, so the
    # input-derived count matters 4x here (measured r13: 7.0 -> 2.9 s at
    # sf0.01 going from the session's 32 to the derived count)
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    return run_to_memory(joined, "append", "stream_join", {SHUFFLE_PARTITIONS: n_parts})
