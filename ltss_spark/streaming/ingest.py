"""Structured Streaming ingest — the reference's write path (SURVEY.md §3.2)
as micro-batches.

Reference: event bus listener -> unbounded queue -> single writer thread ->
one INSERT per event (/root/reference/custom_components/ltss/__init__.py:
104,193-244). Spark-native replacement: ``readStream`` source -> the SAME
column-expression transform as batch (ltss_spark.ingest.states_from_events /
events_to_states) -> ``foreachBatch`` sink with PK dedup. The queue
disappears (micro-batching subsumes it); the single-thread ordering
guarantee is replaced by event-time semantics (watermark + per-key windows)
which survive parallelism.

Error policy parity (A10, __init__.py:201-244): the reference drops rows it
cannot serialize and retries transient DB errors. Here non-conforming rows
are diverted to a dead-letter output instead of a log line, and transient
sink failures are covered by Spark task retries + idempotent writes (the PK
dedup in the sink makes at-least-once re-delivery safe — matching the
reference's PK intent, models.py:31-32).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ltss_spark.ingest import states_from_events
from ltss_spark.sources.batch import normalize_event_times


#: reference retry policy (__init__.py:121-139 connect, 201-244 insert):
#: up to 10 tries, 3 s apart. Same defaults here, but configurable.
DEFAULT_MAX_TRIES = 10
DEFAULT_BACKOFF_S = 3.0


def _write_jdbc(
    batch: DataFrame, url: str, table: str, mode: str, options: dict
) -> None:
    """The one place a micro-batch meets a database — a seam the contract
    tests replace to capture (url, table, mode, options) without a live DB
    (the reference's equivalent wiring is tested against real containers,
    tests/pytest/test_databases.py:20-45; this container has none).

    Dialect-aware: against a ``jdbc:postgresql:`` URL the writer is
    seeded with the reference-faithful column types (TIMESTAMPTZ,
    JSONB — sources/pg_dialect.py; Spark's built-in PostgresDialect
    would create ``timestamp`` and has no JSONB mapping) and
    ``stringtype=unspecified`` so JSON strings cast into JSONB
    server-side. Caller-provided options always win."""
    from ltss_spark.sources.pg_dialect import dialect_for_url, pg_writer_options

    if dialect_for_url(url) == "postgresql":
        merged = dict(pg_writer_options(batch.schema))
        merged.update(options)
        options = merged
    writer = batch.write.mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.jdbc(url, table)


def _write_parquet_epoch(batch: DataFrame, out_path: str, epoch_id: int) -> None:
    """Idempotent file landing: each micro-batch owns the partition
    directory ``epoch=<id>`` and OVERWRITES it, so a replayed epoch (sink
    retry, checkpoint recovery) replaces its own output instead of
    appending duplicates — the file-sink analogue of the reference's PK
    upsert semantics (models.py:31-32). Month subpartitioning is preserved
    beneath the epoch for pruning; readers see both as partition columns."""
    out = batch.withColumn("month", F.date_format("time", "yyyy-MM"))
    out.write.mode("overwrite").partitionBy("month").parquet(
        f"{out_path}/epoch={int(epoch_id)}"
    )


def with_retries(
    fn,
    max_tries: int = DEFAULT_MAX_TRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep=None,
):
    """A10 transient-error policy (reference __init__.py:121-139,201-244:
    ≤10 tries × 3 s before giving up): call ``fn`` until it succeeds or the
    budget is spent, then re-raise the last error. Spark task retries cover
    executor-side failures; this covers the driver-side foreachBatch body
    (the JDBC commit itself). ``sleep`` is injectable for tests."""
    import time as _time

    sleep = sleep or _time.sleep

    def wrapped(*args, **kwargs):
        last = None
        for attempt in range(1, max_tries + 1):
            try:
                return fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001 — re-raised after budget
                last = e
                if attempt < max_tries:
                    sleep(backoff_s)
        raise last

    return wrapped


def make_sink(
    out_path: str | None = None,
    jdbc_url: str | None = None,
    jdbc_table: str = "ltss",
    jdbc_options: dict | None = None,
    jdbc_mode: str = "append",
    max_tries: int = DEFAULT_MAX_TRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    stamp_epoch: bool = False,
):
    """Build the ``foreachBatch`` body: epoch-idempotent parquet
    partitioned by month (the test/file path) or JDBC append (the
    production database sink from BASELINE's 'Structured Streaming + JDBC
    sink' shape — one batched INSERT per micro-batch instead of the
    reference's row-at-a-time ``session.add``,
    /root/reference/custom_components/ltss/__init__.py:207-211). Both
    paths carry the reference's retry budget (A10). Exactly one of
    ``out_path`` / ``jdbc_url`` must be set.
    """
    if (out_path is None) == (jdbc_url is None):
        raise ValueError("exactly one of out_path / jdbc_url required")

    if jdbc_url is not None:
        def sink(batch: DataFrame, epoch_id: int) -> None:
            # append-mode JDBC is NOT idempotent under retry by itself: a
            # partially-committed micro-batch re-appends already-landed
            # partitions on the next try. Replay safety is the database's
            # PK's job — exactly the reference's mechanism (PK(time,
            # entity_id), models.py:31-32, rejects the duplicate rows).
            # stamp_epoch=True additionally stamps every row with its epoch
            # so a PK-less target can dedup (`row_number() OVER (PARTITION
            # BY ... ORDER BY batch_epoch)`) or audit a replay — opt-in,
            # because appending an extra column into a pre-existing
            # fixed-schema target (the reference's ltss table has none)
            # would fail on schema mismatch.
            if stamp_epoch:
                batch = batch.withColumn("batch_epoch", F.lit(int(epoch_id)))
            with_retries(_write_jdbc, max_tries, backoff_s)(
                batch, jdbc_url, jdbc_table, jdbc_mode, jdbc_options or {}
            )

        return sink

    def sink(batch: DataFrame, epoch_id: int) -> None:
        with_retries(_write_parquet_epoch, max_tries, backoff_s)(
            batch, out_path, epoch_id
        )

    return sink


def make_upsert_sink(
    out_path: str,
    pk: tuple[str, ...] = ("time", "entity_id"),
    tie_breaker: str | None = "event_id",
    max_tries: int = DEFAULT_MAX_TRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
):
    """``foreachBatch`` body that UPSERTS each micro-batch into a
    month-partitioned table (sources/batch.upsert_partitioned) — the
    closest file-based analogue of the reference's PK-conflict INSERT
    (models.py:31-32): a replayed or overlapping micro-batch REPLACES its
    PKs instead of appending duplicates, so the sink is idempotent without
    the epoch=<id> directory scheme. Per batch the cost is the touched
    months' rewrite, which micro-batch time-locality keeps small (a batch
    touches the current month, not history)."""
    from ltss_spark.sources.batch import upsert_partitioned

    def sink(batch: DataFrame, epoch_id: int) -> None:
        with_retries(upsert_partitioned, max_tries, backoff_s)(
            batch.sparkSession, out_path, batch, pk=pk, tie_breaker=tie_breaker
        )

    return sink


def _run_jdbc_statements(
    spark: SparkSession, url: str, statements, options: dict | None = None
) -> None:
    """Execute raw SQL statements over one JDBC connection via the JVM
    gateway (java.sql.DriverManager) — how foreachBatch reaches
    statement-level SQL (DDL, ON CONFLICT merges) that the DataFrame
    writer API cannot express. Driver-side and O(#statements), never
    O(rows): the row traffic goes through the parallel Spark JDBC
    writer; this connection only runs the bounded setup/merge text.

    ``options`` carries the same connection properties the Spark writer
    gets (user/password/ssl...): an auth-protected server must see the
    SAME credentials on this connection, not just on the row writer."""
    props = spark._jvm.java.util.Properties()
    for k, v in (options or {}).items():
        # writer-only options (createTableColumnTypes, batchsize...) are
        # harmless extras in Properties; the driver reads what it knows
        props.setProperty(str(k), str(v))
    conn = spark._jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            for sql in statements:
                st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def make_pg_upsert_sink(
    jdbc_url: str,
    table: str = "ltss",
    staging: str | None = None,
    jdbc_options: dict | None = None,
    tie_breaker: str | None = None,
    max_tries: int = DEFAULT_MAX_TRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    run_statements=_run_jdbc_statements,
):
    """``foreachBatch`` body that upserts each micro-batch into Postgres
    with the reference's PK-conflict semantics (models.py:31-32) via the
    staging-table pattern (sources/pg_dialect.upsert_batch_statements):

    1. one connection runs the pre-DDL (UNLOGGED staging + TRUNCATE),
    2. Spark's parallel JDBC writer appends the batch into staging
       (row traffic scales with executors, not the driver),
    3. one set-based ``INSERT .. SELECT DISTINCT ON (pk) .. ON CONFLICT
       (time, entity_id) DO UPDATE`` merges it server-side,
    4. TRUNCATE readies staging for the next epoch.

    Idempotent under replay by construction — a re-delivered epoch merges
    onto its own PKs. ``run_statements`` is the seam the no-Postgres test
    environment replaces (tests/test_pg_dialect.py asserts the exact
    statement sequence); against a live server the default executes over
    java.sql.DriverManager.

    Intra-batch PK duplicates: with a ``tie_breaker`` the merge's
    ``DISTINCT ON`` keeps the highest tie-breaker row (deterministic,
    server-side). WITHOUT one, DISTINCT ON's survivor would be
    plan-dependent, so the batch is PK-deduped Spark-side
    (dedup_primary_key) before the staging append — which duplicate
    survives is still arbitrary (there is no ordering column to prefer),
    but it is decided once, before the data leaves Spark, not by the
    Postgres plan."""
    staging = staging or f"{table}_staging"

    def sink(batch: DataFrame, epoch_id: int) -> None:
        from ltss_spark.ingest import dedup_primary_key
        from ltss_spark.sources.pg_dialect import upsert_batch_statements

        if tie_breaker is None and {"time", "entity_id"} <= set(batch.columns):
            batch = dedup_primary_key(batch)
        plan = upsert_batch_statements(
            table, batch.columns, staging, tie_breaker=tie_breaker
        )
        spark = batch.sparkSession
        opts = jdbc_options or {}

        def step() -> None:
            run_statements(spark, jdbc_url, plan["pre"], opts)
            _write_jdbc(batch, jdbc_url, staging, "append", opts)
            run_statements(spark, jdbc_url, [plan["merge"]] + plan["post"], opts)

        with_retries(step, max_tries, backoff_s)()

    return sink


def compact_sink(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    files_per_month: int = 1,
) -> None:
    """Small-file compaction for the epoch-idempotent sink.

    Each micro-batch owns an ``epoch=N`` directory (idempotent replay), so
    a long-running stream accumulates #epochs × #months files; at 100 TB
    the per-file open/footer cost comes to dominate reads long before the
    data does. Compaction rewrites the landed rows month-partitioned with a
    bounded file count — the parquet analogue of TimescaleDB's background
    chunk-compression jobs (run offline, while the stream is stopped or on
    a snapshot; the values are untouched, only the layout changes).

    ``files_per_month`` > 1 salts the shuffle so one giant month doesn't
    serialize into a single writer task.
    """
    df = spark.read.parquet(in_path).drop("epoch")
    rest = [c for c in df.columns if c != "month"]
    salt = F.pmod(F.hash(*rest), F.lit(files_per_month))
    (
        df.repartition(F.col("month"), salt)
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out_path)
    )


def run_ingest_availablenow(
    spark: SparkSession,
    source_dir: str,
    out_path: str | None = None,
    checkpoint: str | None = None,
    watermark: str = "1 hour",
    dedup: bool = True,
    jdbc_url: str | None = None,
    jdbc_table: str = "ltss",
    jdbc_options: dict | None = None,
    upsert: bool = False,
    path_glob: str = "events.parquet",
) -> None:
    """Drive the ingest pipeline over the driver's ``events`` parquet as a
    bounded stream (Trigger.AvailableNow) and land canonical state rows at
    ``out_path`` partitioned by month (``upsert=True`` routes through the
    PK-upsert sink instead of the epoch-append sink — replayed batches
    replace their PKs, the reference's conflict semantics).

    - ``withWatermark`` bounds streaming dedup state (stream_dedup +
      stream_watermark, SURVEY §2.C): duplicates arriving later than the
      watermark are the sink-side PK dedup's job.
    - the sink appends parquet partitioned by month (the hypertable-chunk
      analogue); with a JDBC URL this foreachBatch body becomes
      ``batch.write.jdbc(...)`` unchanged — the BASELINE.json
      'Structured Streaming + JDBC sink' shape. The container has no
      Postgres, but the REAL JDBC path is exercised end-to-end against
      Spark's bundled embedded Derby in tests/test_streaming.py
      (stream -> foreachBatch -> batched INSERT -> read back -> compare),
      the in-process analogue of the reference's live-database matrix
      (/root/reference/tests/pytest/test_databases.py:20-45).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file streaming source needs a directory; pathGlobFilter narrows
    # it to the events table for the driver fixture (one file named
    # events.parquet). A production source is a DIRECTORY that accumulates
    # files — pass path_glob="*.parquet" and the checkpoint makes restarts
    # exactly-once over whatever files have arrived since
    # (tests/test_streaming.py::test_ingest_checkpoint_resume_exactly_once).
    if path_glob == "events.parquet":
        # single-file fixture: the raw schema is cacheable per file version
        from ltss_spark.streaming.windows import raw_parquet_schema

        schema = raw_parquet_schema(spark, f"{source_dir}/{path_glob}")
    else:
        # directory source: files accumulate (checkpoint-resume), so the
        # schema peek must see the live listing — no cache key exists
        schema = (
            spark.read.option("pathGlobFilter", path_glob).parquet(source_dir).schema
        )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", path_glob)
        .parquet(source_dir)
    )
    states = states_from_events(normalize_event_times(raw))
    if dedup:
        states = states.withWatermark("time", watermark).dropDuplicates(
            ["time", "entity_id"]
        )

    if upsert:
        if out_path is None:
            raise ValueError("upsert sink requires out_path")
        sink = make_upsert_sink(out_path)
    else:
        sink = make_sink(
            out_path=out_path,
            jdbc_url=jdbc_url,
            jdbc_table=jdbc_table,
            jdbc_options=jdbc_options,
        )
    if checkpoint is None:
        # a None option value reaches the JVM as a null path and fails at
        # start(); an explicit fresh scratch dir (removed at process exit)
        # keeps the no-arg call usable (production callers pass a durable
        # location for exactly-once recovery across restarts)
        from ltss_spark.scratch import scratch_dir

        checkpoint = scratch_dir("ltss_ckpt")
    # size the state/shuffle partition count from the bounded source
    # (guide §2; windows.bounded_source_state_partitions): the dedup path
    # keeps one state store per partition, and even the plain path shuffles
    # each micro-batch — sizing either to the batch session's core-count
    # constant pays ~32 store/task fixed costs per batch for KB-scale files
    import fnmatch
    import os

    from ltss_spark.session import scoped_conf
    from ltss_spark.streaming.windows import (
        SHUFFLE_PARTITIONS,
        bounded_source_state_partitions,
    )

    # size from the files the stream reads only: source_dir holds every
    # table, and pathGlobFilter matches leaf file names at ANY depth, so
    # the sizing walks the tree with the same filter
    n_parts = bounded_source_state_partitions(
        *(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(source_dir)
            for f in fnmatch.filter(files, path_glob)
        )
    )
    # held across start() only: the query's cloned session keeps the count
    with scoped_conf(spark, {SHUFFLE_PARTITIONS: n_parts}):
        q = (
            states.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def streaming_bucket_counts(
    spark: SparkSession,
    source_dir: str,
    bucket: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """stream_window_tumbling: event-time tumbling counts over the bounded
    stream, collected through a memory sink. Returns the finished result as
    a batch DataFrame (bucket_start, event_type, n). Source and sink reuse
    the windows-module helpers (uuid-named memory table — a process-salted
    hash name could collide and silently share a table between queries)."""
    from ltss_spark.streaming.windows import (
        SHUFFLE_PARTITIONS,
        bounded_events_stream,
        bounded_source_state_partitions,
        run_to_memory,
    )

    raw = bounded_events_stream(spark, source_dir)
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", bucket).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    return run_to_memory(agg, "complete", "stream_bucket", {SHUFFLE_PARTITIONS: n_parts})


def shutdown_streams(spark: SparkSession, timeout_s: int = 30) -> int:
    """A14 shutdown/flush (reference: a ``None`` sentinel drains the queue,
    the writer thread joins, the connection closes —
    /root/reference/custom_components/ltss/__init__.py:164-199,346-350).

    Spark-native equivalent: stop every active streaming query; each stop
    finishes the in-flight micro-batch (the 'drain'), and the checkpoint
    guarantees the next start resumes exactly after the last committed
    batch — stronger than the reference's at-most-once queue, which loses
    whatever was buffered if the process dies before the drain.

    Returns the number of queries stopped.
    """
    active = list(spark.streams.active)
    for q in active:
        q.stop()
    for q in active:
        q.awaitTermination(timeout_s)
    return len(active)


def kafka_available(spark: SparkSession) -> bool:
    """Capability probe: is the spark-sql-kafka connector on the
    classpath? (It is not bundled with Spark — a deployment adds
    ``org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`` via
    ``--packages``.) Checked by class lookup, not by starting a stream,
    so the probe is instant and side-effect-free."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def _kafka_event_schema():
    import pyspark.sql.types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """The source-independent half of the Kafka path: a Kafka-shaped frame
    (``value`` binary plus ``topic``/``partition``/``offset``/``timestamp``
    — what ``format("kafka")`` emits) becomes event rows with

    - the event columns of the file source's schema (JSON-decoded from
      ``value``), so everything downstream (states_from_events, watermark,
      dedup, sinks) is source-agnostic;
    - ``topic``/``partition``/``offset`` provenance — the replay key an
      idempotent sink dedups on (offsets are the Kafka-native analogue of
      the (app_id, epoch) txn watermark);
    - a ``__reject`` flag for undecodable or key-less payloads instead of
      a dropped row — the reference's dead-letter posture
      (__init__.py:212-216 drops bad events; ltss_deadletter diverts
      them), row-level and streamable (no side effects, pure projection).

    Separated from the stream builder so the decode contract is testable
    without the connector jar: the parse is a pure column expression over
    the Kafka wire shape.
    """
    e = F.from_json(F.col("value").cast("string"), _kafka_event_schema())
    return (
        raw.select(
            "topic",
            "partition",
            "offset",
            F.col("timestamp").alias("kafka_ts"),
            F.col("value").cast("string").alias("raw_value"),
            e.alias("e"),
        )
        .select("topic", "partition", "offset", "kafka_ts", "raw_value", "e.*")
        .withColumn(
            "__reject", F.col("event_id").isNull() | F.col("ts").isNull()
        )
    )


def events_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
):
    """Kafka variant of the event source (SURVEY §2.C scan_stream lists
    file/Kafka/memory): value bytes -> JSON (:func:`parse_kafka_events`)
    -> the same event schema the file source delivers. Rejects are
    filtered here (divert them upstream via parse_kafka_events if a
    dead-letter sink is wired).

    Gated on :func:`kafka_available` — absent the connector this raises
    an actionable error instead of Spark's ClassNotFoundException (the
    file source covers the tested path in this container; this builder is
    the production wiring)."""
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector not on the classpath; launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
            f"{spark.version} (capability probe: kafka_available())"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_events(raw).filter(~F.col("__reject")).drop(
        "__reject", "raw_value", "topic", "partition", "offset", "kafka_ts"
    )


def encode_kafka_events(events: DataFrame, topic: str = "ltss.events") -> DataFrame:
    """The sink-side half of the Kafka path (A9 for a bus sink): event
    rows become the exact frame ``writeStream.format("kafka")`` consumes
    — ``key`` binary (the partition key; user_id here, entity_id in the
    states form, so one series always lands in one Kafka partition and
    per-series ordering survives the bus) and ``value`` binary JSON
    carrying every event column. Pure projection: fully parallel, no
    shuffle, and the payload is by construction decodable by
    :func:`parse_kafka_events` — the round-trip contract the registered
    entry value-hashes without the connector jar."""
    return events.select(
        F.lit(topic).alias("topic"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        .cast("binary")
        .alias("value"),
    )


def events_sink_kafka(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str = "ltss.events",
    checkpoint: str | None = None,
):
    """Kafka variant of the event SINK (the bus-out mirror of
    :func:`events_stream_kafka`): encode to the wire shape, then
    ``writeStream.format("kafka")``. Gated on :func:`kafka_available`
    like the source — absent the connector this raises an actionable
    error instead of Spark's ClassNotFoundException. At-least-once like
    every Kafka sink; consumers dedup on the (topic, key, event_id)
    payload id exactly as parse_kafka_events' offset provenance intends."""
    spark = events.sparkSession
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector not on the classpath; launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
            f"{spark.version} (capability probe: kafka_available())"
        )
    writer = (
        encode_kafka_events(events, topic)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
