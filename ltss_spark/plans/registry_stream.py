"""Registry part 5: streaming operators run bounded (Trigger.AvailableNow)
so the driver's batch oracle can check them (SURVEY.md §2.C
stream_window_tumbling/_sliding/_session, stream_dedup, stream_stateful,
stream_late_drop, stream_watermark; stream_ingest lives in registry_ltss).

Every entry executes the REAL streaming plan — readStream source, streaming
aggregation state, memory/foreachBatch sink — only the trigger is bounded,
so results are deterministic and most are hash-checkable against plain
GROUP BY SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ltss_spark.plans.registry import register
from ltss_spark.scratch import scratch_dir


@register(
    "scan_stream",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    survey="scan_stream A1 (streaming source delivers the table byte-exactly)",
)
def scan_stream(spark, sf_dir):
    """readStream file source -> memory sink, no transform: proves the
    streaming scan delivers exactly the batch table (schema + values),
    including the nanos->micros time normalization."""
    from ltss_spark.streaming.windows import bounded_events_stream, run_to_memory

    raw = bounded_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return run_to_memory(raw, "append", "scan_stream")


_EVENTS_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
_EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)
#: second-line precision so CSV/JSON text round-trips the micros the
#: parquet table carries (both formats default to millis and would
#: silently truncate — a value-hash mismatch, not an error)
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _text_roundtrip(spark, sf_dir, fmt: str, options: dict):
    """Shared body for the text-source scans: land events as fmt, read it
    back with an EXPLICIT schema, return the full rows. The explicit
    schema is the 100 TB posture — schema inference on a text source is a
    full extra pass over the data; production declares the schema and
    keeps the scan single-pass. Files stay one-record-per-line
    (multiLine off), so the source remains SPLITTABLE: a 100 TB text
    dataset still fans out by HDFS/S3 block, unlike a multiline JSON blob
    that serializes into one task."""
    from ltss_spark.plans.registry import _t

    out = scratch_dir(f"ltss_scan_{fmt}")
    e = _t(spark, sf_dir, "events").select(*_EVENTS_COLS)
    e.write.mode("overwrite").format(fmt).options(**options).save(out)
    return (
        spark.read.format(fmt)
        .schema(_EVENTS_DDL)
        .options(**options)
        .load(out)
        .filter(F.col("value") > 50.0)
    )


@register(
    "scan_csv",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    WHERE value > 50.0
    """,
    survey="scan_parquet A1 (CSV source: splittable text scan, explicit schema, quoted-field and timestamp-precision fidelity)",
)
def scan_csv_q(spark, sf_dir):
    """CSV round trip, byte-faithful: header on, default quoting (the
    props column carries commas and quotes inside JSON), timestamps at
    micros precision, doubles via Java shortest-round-trip repr — the
    read-back must hash-match the parquet original exactly. Doubles and
    timestamps are the columns text formats corrupt silently; the oracle
    compares against the PARQUET values, so any lossy edge in the
    writer/parser pair goes red."""
    return _text_roundtrip(
        spark, sf_dir, "csv", {"header": "true", "timestampFormat": _TS_FMT}
    )


@register(
    "scan_json",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    WHERE value > 50.0
    """,
    survey="scan_parquet A1 fn_json (JSON-lines source: splittable text scan, explicit schema, nested-string escaping fidelity)",
)
def scan_json_q(spark, sf_dir):
    """JSON-lines round trip: one record per line (splittable), explicit
    schema (no inference pass), micros timestamps; the props column is a
    JSON string INSIDE the JSON record, so writer escaping and parser
    unescaping must be exact inverses for the hash to match."""
    return _text_roundtrip(spark, sf_dir, "json", {"timestampFormat": _TS_FMT})


@register(
    "scan_orc",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    WHERE value > 50.0
    """,
    survey="scan_parquet A1 (ORC source: the second columnar lake format — stripe-splittable, predicate pushdown + column pruning at the scan)",
)
def scan_orc_q(spark, sf_dir):
    """ORC round trip — the other columnar format a lake-scale engine
    must read natively (Hive-era corpora are ORC). Unlike the text scans
    above there is no format-fidelity knob to get wrong (binary columnar,
    native timestamps/doubles), so the entry's subject is the SCAN
    QUALITY: the value predicate reaches the ORC reader as a pushed
    filter and the scan is stripe-splittable — at 100 TB the ORC path
    fans out and prunes exactly like the parquet path. Pushdown is
    pinned by tests/test_streaming.py::test_orc_scan_pushdown, not just
    claimed here."""
    from ltss_spark.plans.registry import _t

    out = scratch_dir("ltss_scan_orc")
    e = _t(spark, sf_dir, "events").select(*_EVENTS_COLS)
    e.write.mode("overwrite").format("orc").save(out)
    return spark.read.orc(out).filter(F.col("value") > 50.0)


def _stream_near_dup_oracle() -> str:
    from ltss_spark.plans.registry_ext import _minhash_banded_ctes

    return f"""
    WITH {_minhash_banded_ctes(12, 4)}
    SELECT d.doc_id,
           EXISTS (
             SELECT 1 FROM banded b1
             JOIN banded b2 ON b1.band = b2.band
                           AND b1.band_sig = b2.band_sig
             WHERE b1.doc_id = d.doc_id
               AND b2.doc_id % 10 <
                   (CASE WHEN d.doc_id % 10 < 8 THEN 6 ELSE 8 END)
           ) AS dup_of_earlier
    FROM documents d WHERE d.doc_id % 10 >= 6
    """


@register(
    "stream_dedup_near",
    _stream_near_dup_oracle(),
    survey="stream_dedup stream_ingest ext_dedup_near (incremental near-dup: new documents probe the accumulated LSH signature store per micro-batch)",
)
def stream_dedup_near_q(spark, sf_dir):
    """Streaming incremental near-dup (streaming/neardup.py): the
    signature store is seeded with 60% of the corpus, the remaining docs
    arrive as TWO micro-batches (one file each, modification-time
    ordered), and each batch is flagged against the store AS IT STOOD —
    so batch 2 sees batch 1's documents but not vice versa. The store is
    hash-bucket partitioned on the signature key and each probe reads
    only the batch's own buckets (n_buckets=16 here — the LAYOUT knob: a
    100 TB store uses more buckets for finer pruning; locally fewer
    buckets bound the per-batch file churn). The oracle reproduces the
    visibility boundary exactly: a streamed doc is dup_of_earlier iff it
    shares an LSH band bucket with any doc of a strictly earlier batch
    (store for batch 1; store ∪ batch 1 for batch 2)."""
    import os

    from ltss_spark.operators.dedup import band_signatures
    from ltss_spark.plans.registry import _t
    from ltss_spark.scratch import scratch_dir
    from ltss_spark.streaming.neardup import (
        run_streaming_near_dup,
        seed_signature_store,
    )

    base = scratch_dir("ltss_neardup")
    src, store, out, ckpt = (f"{base}/{d}" for d in ("src", "store", "out", "ckpt"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 10
    seed_signature_store(band_signatures(docs.filter(m < 6)), store, n_buckets=16)
    os.makedirs(src, exist_ok=True)
    stage_batches(
        docs.filter(m >= 6),
        F.when(m < 8, F.lit(0)).otherwise(F.lit(1)),
        2,
        src,
    )
    run_streaming_near_dup(spark, src, store, out, ckpt, n_buckets=16)
    # drop the __epoch replay-idempotency partition column — the entry's
    # contract (and oracle) is (doc_id, dup_of_earlier)
    return spark.read.parquet(out).select("doc_id", "dup_of_earlier")


@register(
    "scan_corrupt_tolerant",
    """
    SELECT event_id, event_type, value FROM events WHERE value > 50.0
    """,
    survey="scan_parquet A10 (corrupt-object tolerance: ignoreCorruptFiles scan policy, the file-level dead-letter)",
)
def scan_corrupt_tolerant_q(spark, sf_dir):
    """A 100 TB dataset always contains a few corrupt objects (truncated
    uploads, bit rot); one bad footer must not kill a thousand-executor
    job. This entry lands real rows, PLANTS a garbage .parquet beside
    them, and scans with ``ignoreCorruptFiles`` — the corrupt object is
    skipped (logged per-file JVM-side) and the result hash-matches the
    intact rows exactly. The file-level analogue of the row-level
    dead-letter policy (reference drops bad EVENTS, __init__.py:212-216;
    ltss_deadletter diverts them). Explicit schema, so not even schema
    inference touches the bad footer."""
    from ltss_spark.plans.registry import _t
    from ltss_spark.scratch import scratch_dir

    out = scratch_dir("ltss_corrupt")
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 50.0).select(
        "event_id", "event_type", "value"
    )
    e.write.parquet(out)
    with open(f"{out}/part-99999-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a parquet file \x00\xff garbage")
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("event_id long, event_type string, value double")
        .parquet(out)
    )


#: one Derby database per (process, sf_dir): the entry's subject is the
#: READ path; re-runs in the same session reuse the landed table instead
#: of re-inserting 10k rows per call.
_JDBC_DBS: dict[str, str] = {}


@register(
    "scan_jdbc",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE event_type = 'purchase' AND value > 10.0
    """,
    survey="scan_parquet sink_append B1 (JDBC source: partitioned parallel read + predicate pushdown against a real embedded database)",
)
def scan_jdbc_q(spark, sf_dir):
    """The reference's table LIVES in a JDBC database (PostgreSQL /
    TimescaleDB — /root/reference/custom_components/ltss/__init__.py:
    121-139); reading it back out through Spark is how a migration or a
    federated query would start. This entry lands events in an embedded
    Derby database (the same real JDBC writer the streaming sink uses),
    then reads it with the two things that make a JDBC scan survive scale:

    - **partitioned read**: ``partitionColumn/lowerBound/upperBound/
      numPartitions`` splits the table into 8 range-disjoint queries
      executed in parallel — one executor thread per slice, not one
      driver-side cursor over the whole table;
    - **predicate pushdown**: the filter compiles into each slice's WHERE
      clause (JDBCRelation pushes catalyst predicates), so the database
      ships only matching rows — PushedFilters visible in .explain().

    At 100 TB the same shape reads a sharded fleet: bounds come from the
    shard catalog, numPartitions from the executor count."""
    from ltss_spark.plans.registry import _t

    key = sf_dir
    if key not in _JDBC_DBS:
        db = scratch_dir("ltss_derbydb")
        e = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        # Spark's DerbyDialect maps StringType to CLOB, and Derby cannot
        # compare CLOB to a literal — which would break exactly the thing
        # this entry proves (the pushed WHERE clause). Declare VARCHAR
        # explicitly; Postgres (TEXT) has no such trap.
        e.write.format("jdbc").options(
            url=f"jdbc:derby:{db};create=true",
            dbtable="events_jdbc",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            createTableColumnTypes="event_type VARCHAR(64)",
            batchsize="5000",
        ).save()
        _JDBC_DBS[key] = db
    db = _JDBC_DBS[key]
    lo, hi = (
        _t(spark, sf_dir, "events")
        .agg(F.min("event_id"), F.max("event_id"))
        .first()
    )
    return (
        spark.read.format("jdbc")
        .options(
            url=f"jdbc:derby:{db}",
            dbtable="events_jdbc",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            partitionColumn="event_id",
            lowerBound=str(lo),
            upperBound=str(hi + 1),
            numPartitions="8",
        )
        .load()
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 10.0))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "sink_append",
    """
    SELECT event_id, event_type, value FROM events
    """,
    survey="sink_append A9 (append-mode sink accumulates batches losslessly)",
)
def sink_append(spark, sf_dir):
    """Two successive append writes (disjoint halves) into one parquet
    table, read back — the reference's INSERT-append path
    (/root/reference/custom_components/ltss/__init__.py:207-211) done as
    idempotent batch appends. With a JDBC URL the same writer becomes
    ``.write.jdbc(mode='append')`` unchanged."""
    from ltss_spark.plans.registry import _t

    out = scratch_dir("ltss_append")
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(out)
    e.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_compact",
    """
    SELECT ts AS time, event_id, event_type, value,
           strftime(ts, '%Y-%m') AS month
    FROM events
    """,
    survey="sink_partitioned A12 (epoch small-file compaction preserves every row)",
)
def sink_compact_q(spark, sf_dir):
    """Three micro-batch epochs land through the idempotent sink, then
    compact_sink rewrites them month-partitioned with one file per month —
    the values must be untouched (oracle: the full source), only the file
    layout changes (file-count assertion in tests/test_streaming.py)."""
    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.ingest import compact_sink, make_sink

    base = scratch_dir("ltss_compact")
    e = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    sink = make_sink(out_path=f"{base}/raw")
    for epoch in range(3):
        sink(e.filter(F.col("event_id") % 3 == epoch), epoch_id=epoch)
    compact_sink(spark, f"{base}/raw", f"{base}/compact")
    out = spark.read.parquet(f"{base}/compact")
    return out.select(
        "time", "event_id", "event_type", "value", F.col("month").cast("string").alias("month")
    )


@register(
    "stream_window_tumbling",
    """
    SELECT date_trunc('hour', ts) AS bucket_start, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    survey="stream_window_tumbling B4 (event-time tumbling agg, streaming state)",
)
def stream_window_tumbling(spark, sf_dir):
    from ltss_spark.streaming.ingest import streaming_bucket_counts

    return streaming_bucket_counts(spark, sf_dir, bucket="1 hour")


@register(
    "stream_window_sliding",
    """
    WITH expanded AS (
      SELECT event_type,
             date_trunc('hour', ts) - (k.i * INTERVAL 1 HOUR) AS window_start
      FROM events, UNNEST([0, 1]) AS k(i)
    )
    SELECT window_start, event_type, COUNT(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
    survey="stream_window_sliding B4 (overlapping event-time windows)",
)
def stream_window_sliding(spark, sf_dir):
    from ltss_spark.streaming.windows import streaming_sliding_counts

    return streaming_sliding_counts(spark, sf_dir, duration="2 hours", slide="1 hour")


@register(
    "stream_window_session",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    g AS (
      SELECT user_id, ts, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM g GROUP BY user_id, sid
    """,
    survey="stream_window_session (per-entity episode detection, session state)",
)
def stream_window_session(spark, sf_dir):
    from ltss_spark.streaming.windows import streaming_session_windows

    return streaming_session_windows(spark, sf_dir, gap="30 minutes")


@register(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    survey="stream_dedup B9 (streaming exactly-once key emission)",
)
def stream_dedup(spark, sf_dir):
    from ltss_spark.streaming.windows import streaming_dedup

    return streaming_dedup(spark, sf_dir)


@register(
    "stream_stateful",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
    survey="stream_stateful (applyInPandasWithState custom per-key state)",
)
def stream_stateful(spark, sf_dir):
    from ltss_spark.streaming.stateful import streaming_user_totals

    return streaming_user_totals(spark, sf_dir)


def stage_batches(frame, batch_col, n_batches: int, src: str) -> None:
    """HARNESS FIXTURE staging shared by the multi-micro-batch stream
    entries: write ``frame`` — whose rows belong to micro-batch
    ``batch_col`` (an int Column in [0, n_batches)) — as exactly one
    parquet file per batch, ``b0.parquet`` .. ``b{n-1}.parquet`` with
    increasing mtimes (Spark's file source orders by modification time,
    so each file IS one micro-batch under maxFilesPerTrigger=1).

    ONE Spark job for all batches (r13): ``repartition(n, __b)`` puts
    every batch value in a single task and ``partitionBy(__b)`` keeps the
    batch index OUT of the data files, so each ``__b=i`` directory holds
    exactly one part file with the original schema — the previous
    one-filtered-scan-plus-write PER BATCH (3-4 jobs, each rescanning the
    source) collapses into one scan+write. An empty batch (not seen at
    any tested SF, but layout-stability matters: the batch COUNT is
    semantic for the watermark entries) still gets its file via an
    empty single-part write."""
    import glob as g
    import os
    import shutil

    tmp = f"{src}/__tmp"
    (
        frame.withColumn("__b", batch_col)
        .repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .parquet(tmp)
    )
    # a row whose batch_col is NULL or out of range lands in a directory
    # no batch file is moved from (NULL: __b=__HIVE_DEFAULT_PARTITION__);
    # the listing is driver-side, no extra Spark job
    batch_dirs = {f"__b={i}" for i in range(n_batches)}
    stray = sorted(
        d for d in os.listdir(tmp) if d.startswith("__b=") and d not in batch_dirs
    )
    if stray:
        shutil.rmtree(tmp)
        raise ValueError(
            f"stage_batches: rows with batch_col NULL or outside "
            f"[0, {n_batches}) would be dropped: {stray}"
        )
    now = 1_700_000_000
    for i in range(n_batches):
        dst = f"{src}/b{i}.parquet"
        hits = g.glob(f"{tmp}/__b={i}/part-*.parquet")
        assert len(hits) <= 1, f"batch {i}: {len(hits)} part files"
        if hits:
            shutil.move(hits[0], dst)
        else:
            frame.filter(F.lit(False)).coalesce(1).write.parquet(f"{tmp}/__e{i}")
            shutil.move(g.glob(f"{tmp}/__e{i}/part-*.parquet")[0], dst)
        os.utime(dst, (now + 600 * i, now + 600 * i))
    shutil.rmtree(tmp)


def stage_late_arrivals(spark, sf_dir):
    """HARNESS FIXTURE, not an operator: split the static events table into
    three files processed as three micro-batches (maxFilesPerTrigger=1 +
    explicit mtimes — Spark's file source orders by modification time): the
    bulk of the on-time rows, then the latest row(s) to advance the
    watermark, then the earliest row(s) alone as a straggler that the
    watermark has already passed. Returns a bounded streaming DataFrame
    whose third micro-batch is entirely late. Lives in the plans/ harness
    layer so ltss_spark.streaming stays pure plan code."""
    from ltss_spark.sources.batch import normalize_event_times

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = normalize_event_times(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    src = f'{scratch_dir("ltss_late")}/src'
    mn, mx = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    stage_batches(
        events,
        F.when(F.col("ts") <= mn, F.lit(2))  # straggler, arrives last
        .when(F.col("ts") == mx, F.lit(1))  # advances the watermark
        .otherwise(F.lit(0)),  # bulk of the on-time rows
        3,
        src,
    )
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )


@register(
    "stream_late_drop",
    """
    WITH mn AS (SELECT MIN(ts) AS m FROM events)
    SELECT date_trunc('hour', ts) AS bucket_start, event_type, COUNT(*) AS n
    FROM events WHERE ts > (SELECT m FROM mn)
    GROUP BY 1, 2
    """,
    survey="stream_late_drop stream_watermark A10 (watermark drops stragglers)",
)
def stream_late_drop(spark, sf_dir):
    from ltss_spark.streaming.windows import (
        bounded_source_state_partitions,
        streaming_counts_dropping_late,
    )

    raw = stage_late_arrivals(spark, sf_dir)
    return streaming_counts_dropping_late(
        raw,
        bucket="1 hour",
        state_partitions=bounded_source_state_partitions(
            f"{sf_dir}/events.parquet"
        ),
    )


@register(
    "stream_watermark",
    """
    WITH mn AS (SELECT MIN(ts) AS m FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
           CAST(SUM(CASE WHEN ts > (SELECT m FROM mn) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_on_time,
           CAST(SUM(CASE WHEN ts <= (SELECT m FROM mn) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_late
    FROM events
    """,
    survey="stream_watermark A10 (dedicated drop-count evidence: late rows beyond the watermark are dropped, counted exactly)",
)
def stream_watermark(spark, sf_dir):
    """Dedicated watermark entry (VERDICT r2 item 6): the A10 drop policy
    (/root/reference/custom_components/ltss/__init__.py:212-244 logs and
    drops rows it cannot commit) evidenced DIRECTLY as a drop count — the
    late micro-batch staged behind the advanced watermark must account for
    exactly (source - on_time) rows, checked against a plain DuckDB filter
    oracle rather than inferred from which buckets survived."""
    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.windows import (
        bounded_source_state_partitions,
        streaming_counts_dropping_late,
    )

    raw = stage_late_arrivals(spark, sf_dir)
    kept = streaming_counts_dropping_late(
        raw,
        bucket="1 hour",
        state_partitions=bounded_source_state_partitions(
            f"{sf_dir}/events.parquet"
        ),
    )
    n_source = _t(spark, sf_dir, "events").count()
    return kept.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_on_time")
    ).select(
        F.lit(n_source).cast("long").alias("n_source"),
        "n_on_time",
        (F.lit(n_source) - F.col("n_on_time")).cast("long").alias("n_dropped_late"),
    )


@register(
    "stream_rollup",
    """
    WITH states AS (
      SELECT ts AS time,
             event_type || '.u' || CAST(user_id AS VARCHAR) AS entity_id,
             printf('%.2f', value) AS state
      FROM events
    )
    SELECT date_trunc('hour', time) AS bucket_start,
           entity_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(TRY_CAST(state AS DOUBLE) AS DECIMAL(38,2))) AS DOUBLE)
             / CAST(COUNT(TRY_CAST(state AS DOUBLE)) AS DOUBLE) AS avg_state,
           MIN(TRY_CAST(state AS DOUBLE)) AS min_state,
           MAX(TRY_CAST(state AS DOUBLE)) AS max_state
    FROM states
    GROUP BY 1, 2
    """,
    survey="B4 stream_window_tumbling sink_partitioned (continuous aggregate: incrementally maintained rollup)",
)
def stream_rollup(spark, sf_dir):
    """TimescaleDB continuous-aggregate analogue: the hourly rollup is
    MAINTAINED incrementally by the streaming pipeline (update-log append
    per micro-batch), then resolved latest-epoch-wins at read. The oracle
    is the direct GROUP BY — proving the incremental materialization
    converges to the batch truth."""
    from ltss_spark.streaming.rollup import maintain_rollup_availablenow, read_rollup

    base = scratch_dir("ltss_rollup")
    maintain_rollup_availablenow(
        spark, sf_dir, base=f"{base}/log", checkpoint=f"{base}/ckpt"
    )
    return read_rollup(spark, f"{base}/log")


@register(
    "stream_join",
    """
    SELECT c.user_id, c.event_id AS left_id, c.ts AS left_ts,
           p.event_id AS right_id, p.ts AS right_ts
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    survey="join_inner stream_watermark (stream-stream interval join, finite state via two-sided watermark)",
)
def stream_join(spark, sf_dir):
    """Click->purchase attribution as a real stream-stream inner join: both
    sides watermarked, event-time bounded both directions so the state
    store evicts (streaming/windows.py streaming_interval_join)."""
    from ltss_spark.streaming.windows import streaming_interval_join

    return streaming_interval_join(spark, sf_dir)


_CDC_ORACLE = """
    WITH changes AS (
      SELECT user_id, event_type, event_id AS version, value,
             CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY version DESC) AS rn
      FROM changes
    )
    SELECT user_id, event_type, version, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
"""


@register(
    "stream_cdc",
    _CDC_ORACLE,
    survey="stream_ingest sink_append B9 stream_dedup (CDC apply: insert/update/DELETE feed merged by version LWW, tombstones block stale resurrection, bucket-pruned rewrite)",
)
def stream_cdc_q(spark, sf_dir):
    """A Debezium-shaped change feed (op ∈ {U, D}, monotonic version)
    derived from events — key (user_id, event_type), every 7th change a
    DELETE — is split into THREE change files by version % 3, so each
    micro-batch carries an INTERLEAVED slice of the version sequence:
    the stream arrives out of commit order, the hard case for deletes.
    The feed is applied twice (second run = fresh checkpoint, a full
    at-least-once replay) through foreachBatch -> operators/cdc.cdc_apply:
    hash-bucket-pruned parquet rewrite, survivor per PK by version DESC,
    deletes stored as durable tombstones so a stale update in a later
    batch cannot resurrect a deleted key. The oracle is the pure LWW
    semantic over the whole feed — the hash matching proves arrival
    order, batch boundaries, and replay all cannot change the table.
    Contrast stream_upsert (sources/batch.upsert_partitioned): that sink
    covers the reference's ON-CONFLICT posture (models.py:31-32, no
    deletes); this entry adds the delete verb + out-of-order durability."""
    import os

    from ltss_spark.operators.cdc import cdc_read, run_cdc_stream
    from ltss_spark.plans.registry import _t
    from ltss_spark.scratch import scratch_dir

    base = scratch_dir("ltss_cdc")
    src = f"{base}/src"
    changes = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("event_id").alias("version"),
        "value",
        F.when(F.col("event_id") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    os.makedirs(src, exist_ok=True)
    stage_batches(changes, (F.col("version") % 3).cast("int"), 3, src)
    for ck in ("ckpt1", "ckpt2"):  # second pass = full replay, must be a no-op
        run_cdc_stream(
            spark,
            src,
            f"{base}/target",
            f"{base}/{ck}",
            pk=("user_id", "event_type"),
            n_buckets=16,
        )
    return cdc_read(spark, f"{base}/target").select(
        "user_id", "event_type", "version", "value"
    )


@register(
    "stream_snapshot",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
    survey="sink_append stream_ingest B9 (streaming publication into the versioned sink: one atomic version per micro-batch, txn-deduped exactly-once under replay)",
)
def stream_snapshot_q(spark, sf_dir):
    """Streaming -> versioned-table publication (operators/snapshot.
    make_snapshot_sink): the events table arrives as a 3-file stream
    (maxFilesPerTrigger=1, so three real micro-batches), each batch
    committed as ONE atomic snapshot version — a concurrent reader sees
    table versions, never a half-written batch. The stream then runs
    AGAIN from a fresh checkpoint (a full at-least-once replay, epochs
    renumbered from 0): the (app_id, epoch) txn watermark in the manifest
    makes every replayed commit a no-op, so the final table holds exactly
    one copy of the source — the hash against this plain-SQL oracle IS
    the exactly-once proof."""
    import glob as g
    import os
    import shutil

    from ltss_spark.operators.snapshot import make_snapshot_sink, read_version
    from ltss_spark.plans.registry import _t

    base = scratch_dir("ltss_stream_snap")
    src = f"{base}/src"
    cols = ["event_id", "user_id", "event_type", "value"]
    e = _t(spark, sf_dir, "events").select(*cols)
    os.makedirs(src, exist_ok=True)
    now = 1_700_000_000
    for i in range(3):
        part = e.filter(F.col("event_id") % 3 == i)
        part.coalesce(1).write.parquet(f"{src}/__tmp")
        shutil.move(g.glob(f"{src}/__tmp/part-*.parquet")[0], f"{src}/b{i}.parquet")
        shutil.rmtree(f"{src}/__tmp")
        os.utime(f"{src}/b{i}.parquet", (now + 600 * i, now + 600 * i))
    schema = ", ".join(f"{c} {t}" for c, t in
                       [("event_id", "long"), ("user_id", "long"),
                        ("event_type", "string"), ("value", "double")])
    sink = make_snapshot_sink(f"{base}/table", app_id="stream_snapshot")
    for ck in ("ckpt1", "ckpt2"):  # second pass = replay, must be a no-op
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{base}/{ck}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_version(spark, f"{base}/table").select(*cols)


@register(
    "stream_kafka_decode",
    """
    SELECT
        'ltss.events' AS topic,
        CAST(event_id % 8 AS BIGINT) AS partition,
        CAST(COUNT(*) AS BIGINT) AS n_msgs,
        CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rejects,
        CAST(MIN(event_id) AS BIGINT) AS min_offset,
        CAST(MAX(event_id) AS BIGINT) AS max_offset,
        CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN user_id ELSE 0 END)
             AS BIGINT) AS decoded_user_sum
    FROM events
    GROUP BY 1, 2
    """,
    survey="scan_stream A1 (Kafka decode contract: value bytes -> event rows "
    "with topic/partition/offset provenance + __reject dead-lettering, "
    "exercised as a REAL streaming query over the synthesized wire shape — "
    "jar-free; the format('kafka') builder itself is capability-gated in "
    "streaming/ingest.py:events_stream_kafka)",
)
def stream_kafka_decode_q(spark, sf_dir):
    """The Kafka ingest path minus the connector jar (VERDICT r7 item 7).

    The events table is serialized to the exact wire shape
    ``format("kafka")`` emits — ``value`` binary JSON plus
    ``topic``/``partition``/``offset``/``timestamp`` — with every
    ``event_id % 97 == 0`` payload deterministically corrupted. That frame
    is then read back as a genuine file STREAM and decoded by
    :func:`ltss_spark.streaming.ingest.parse_kafka_events` (the
    source-independent half of the Kafka source, reference event bus
    __init__.py:116-119), so the decode contract the production builder
    relies on — field extraction, offset provenance, ``__reject``
    dead-lettering instead of dropped rows — runs under the streaming
    engine and is value-hashed against a plain-SQL oracle:

    - ``n_msgs``/``min_offset``/``max_offset`` pin provenance (no message
      lost or duplicated per partition);
    - ``n_rejects`` pins the dead-letter flag (corrupt payloads survive as
      flagged rows, the reference's drop-vs-divert posture A10);
    - ``decoded_user_sum`` pins actual field extraction (a decoder that
      only counted would still fail the hash).

    Scale: the decode is a pure column projection (from_json) — fully
    parallel per Kafka partition, no shuffle before the final agg.
    """
    from ltss_spark.plans.registry import _t
    from ltss_spark.scratch import scratch_dir
    from ltss_spark.streaming.ingest import parse_kafka_events
    from ltss_spark.streaming.windows import run_to_memory

    e = _t(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    corrupt = F.col("event_id") % 97 == 0
    wire = e.select(
        F.lit("ltss.events").alias("topic"),
        (F.col("event_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.when(corrupt, F.lit("{corrupt")).otherwise(payload)
        .cast("binary")
        .alias("value"),
    )
    base = scratch_dir("ltss_kafka_wire")
    wire.write.mode("overwrite").parquet(base)
    raw = spark.readStream.schema(
        "topic string, partition int, offset long, "
        "timestamp timestamp, value binary"
    ).parquet(base)
    decoded = run_to_memory(
        parse_kafka_events(raw), "append", "kafka_decode"
    )
    return decoded.groupBy(
        "topic", F.col("partition").cast("long").alias("partition")
    ).agg(
        F.count("*").alias("n_msgs"),
        F.sum(F.col("__reject").cast("long")).alias("n_rejects"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.sum(
            F.when(~F.col("__reject"), F.col("user_id")).otherwise(F.lit(0))
        ).alias("decoded_user_sum"),
    )


@register(
    "stream_kafka_roundtrip",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
             AS value_sum
    FROM events
    GROUP BY user_id
    """,
    survey="sink_append scan_stream A1 A9 (Kafka ENCODE->DECODE round "
    "trip: the sink-side wire contract — key = series id so per-series "
    "order survives the bus, value = JSON payload decodable by "
    "parse_kafka_events; jar-free, the format('kafka') writer itself is "
    "capability-gated in streaming/ingest.py:events_sink_kafka)",
)
def stream_kafka_roundtrip_q(spark, sf_dir):
    """Sink-side Kafka contract (mirror of stream_kafka_decode): events
    -> encode_kafka_events (key = user_id bytes, value = JSON binary) ->
    the synthesized broker columns format('kafka') would add
    (partition/offset/timestamp) -> parse_kafka_events -> per-user
    aggregate hash-checked against the PLAIN events table. A hash match
    proves the encode produced decodable, lossless payloads AND that the
    key routing preserved every row — the exactly-the-table-back
    round-trip guarantee a deployment relies on when the bus sits
    between ingest and sink. Both halves are pure projections (no
    shuffle until the final agg)."""
    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.ingest import (
        encode_kafka_events,
        parse_kafka_events,
    )

    e = _t(spark, sf_dir, "events")
    wire = encode_kafka_events(e).select(
        "topic",
        "key",
        "value",
        # broker-assigned columns, synthesized deterministically the way
        # stream_kafka_decode does: partition from the key hash span,
        # offset monotone per partition stand-in (event_id is unique)
        (F.crc32(F.col("key")) % 8).cast("int").alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    decoded = parse_kafka_events(wire).filter(~F.col("__reject"))
    return decoded.groupBy("user_id").agg(
        F.count("*").alias("n_msgs"),
        F.sum("event_id").alias("id_sum"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("value_sum"),
    )


@register(
    "stream_changepoint",
    """
    WITH base AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL
    ),
    sums AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS sx,
             SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS sxx
      FROM base GROUP BY user_id
    ),
    stats AS (
      SELECT user_id,
             round(CAST(sx AS DOUBLE) / n, 6) AS mu,
             round(sqrt(greatest(
               CAST(sxx AS DOUBLE) / n
               - round(CAST(sx AS DOUBLE) / n, 6) * round(CAST(sx AS DOUBLE) / n, 6),
               0.0)), 6) AS sigma
      FROM sums
    ),
    cum AS (
      SELECT b.event_id, b.user_id, b.ts, b.x, s.sigma,
             SUM(CAST(round((b.x - s.mu - 0.5 * s.sigma) * 1e6, 0) AS BIGINT))
               OVER w AS cpos,
             SUM(CAST(round(-(b.x - s.mu + 0.5 * s.sigma) * 1e6, 0) AS BIGINT))
               OVER w AS cneg
      FROM base b JOIN stats s USING (user_id)
      WINDOW w AS (PARTITION BY b.user_id ORDER BY b.ts, b.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ref AS (
      SELECT event_id, user_id, x, sigma,
             cpos - least(MIN(cpos) OVER w2, 0) AS sp,
             cneg - least(MIN(cneg) OVER w2, 0) AS sn
      FROM cum
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, x,
           round(sp / 1e6, 6) AS s_pos,
           round(sn / 1e6, 6) AS s_neg,
           (sp > CAST(round(4.0 * sigma * 1e6, 0) AS BIGINT)
            OR sn > CAST(round(4.0 * sigma * 1e6, 0) AS BIGINT)) AS is_change
    FROM ref
    """,
    survey="stream_stateful stream_ingest win_cumulative (CUSUM as a "
    "stateful STREAM: applyInPandasWithState carries the reflected walk "
    "in two longs per series across three real time-ordered "
    "micro-batches; emissions hash-equal the batch operator — the "
    "monitoring half of ts_changepoint_cusum, online)",
)
def stream_changepoint_q(spark, sf_dir):
    """Online CUSUM (streaming/stateful.streaming_cusum): control limits
    are trained batch-side with exactly the batch operator's rounding
    (bounded driver collect — one row per series, the SPC reference-
    period posture), then the event stream folds through
    applyInPandasWithState in THREE real micro-batches (the source is
    split into time-tercile files with increasing mtimes, so batches
    arrive in event-time order per key and the carried per-series state
    is genuinely exercised across batch boundaries — the fold's
    high-water-mark guard verifies that ordering instead of assuming
    it). The emitted per-event
    walk values hash-match the batch CUSUM oracle — the stream IS the
    batch computation, incrementalized."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import streaming_cusum
    from ltss_spark.streaming.windows import bounded_source_state_partitions

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", "user_id", "ts", "value"
    )
    # train limits with the batch operator's exact arithmetic
    d6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731
    x = F.col("value").cast("double")
    sums = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(x)).alias("sx"),
        F.sum(d6(x * x)).alias("sxx"),
    )
    mu = F.round(F.col("sx").cast("double") / F.col("n"), 6)
    stats = sums.select(
        "user_id",
        mu.alias("mu"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("sxx").cast("double") / F.col("n") - mu * mu,
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("sigma"),
    ).collect()  # bounded: one row per series
    limits = {
        r["user_id"]: (
            r["mu"],
            r["sigma"],
            int(round(4.0 * r["sigma"] * 1e6)),
        )
        for r in stats
    }
    # three time-tercile files, mtime-ordered -> three real micro-batches
    base = scratch_dir("ltss_stream_cusum")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    bounds = e.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / 3
    cuts = [lo + span, lo + span + span]
    stage_batches(
        e,
        F.when(F.col("ts") < F.lit(cuts[0]), F.lit(0))
        .when(F.col("ts") < F.lit(cuts[1]), F.lit(1))
        .otherwise(F.lit(2)),
        3,
        src,
    )
    raw = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return streaming_cusum(raw, limits, bounded_source_state_partitions(src))


_GAP_CLOSE_MS = 21_600_000  # 6 hours — yields interior AND final closes


@register(
    "stream_gap_close",
    """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    bounds AS (
      SELECT MIN(us) AS lo, (MAX(us) - MIN(us)) // 3 AS span FROM ev
    ),
    b AS (
      SELECT user_id, us,
             CASE WHEN us < (SELECT lo + span FROM bounds) THEN 0
                  WHEN us < (SELECT lo + 2 * span FROM bounds) THEN 1
                  ELSE 2 END AS batch
      FROM ev
    ),
    bstat AS (
      SELECT batch, MAX(MAX(us) // 1000) OVER (ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
      FROM b GROUP BY batch
    ),
    cand AS (
      SELECT user_id, batch, MAX(us) // 1000 AS last_ms,
             LEAD(batch) OVER (PARTITION BY user_id ORDER BY batch) AS m
      FROM b GROUP BY user_id, batch
    )
    SELECT c.user_id, CAST(c.last_ms AS BIGINT) AS last_ms,
           CAST(c.last_ms + 21600000 AS BIGINT) AS closed_at_ms
    FROM cand c LEFT JOIN bstat ON bstat.batch = c.m - 2
    WHERE CASE WHEN c.m IS NULL
               THEN (SELECT MAX(w) FROM bstat) >= c.last_ms + 21600000
               ELSE c.m >= c.batch + 2
                    AND bstat.w >= c.last_ms + 21600000 END
    """,
    survey="stream_stateful stream_watermark fn_date (State API v2 "
    "EVENT-TIME TIMERS: per-series silence detection — a sensor that "
    "stops reporting, the reference's own domain failure mode. The "
    "oracle replays the empirically pinned timer semantics (expiry <= "
    "floor-ms watermark, input-before-timers staleness, availableNow "
    "finalization batch) over the same integer-µs tercile split)",
)
def stream_gap_close_q(spark, sf_dir):
    """Per-series gap/offline detection (streaming/stateful.
    streaming_gap_close_tws): three time-tercile micro-batches (integer-µs
    cuts, mtime-ordered files) drive transformWithStateInPandas with
    event-time timers; a close row is emitted when the watermark PROVES a
    series was silent for 6 hours. The timer semantics were pinned
    empirically (boundary probes in tests/test_streaming.py) and are
    replayed exactly by BOTH the DuckDB oracle and gap_close_replay —
    the capability fallback the entry runs when the session's JVM lacks
    a worker-visible protobuf runtime (the Kafka entries' precedent:
    same result either way, hash-checked; a pytest pins the real timer
    stream equal to the replay where the runtime IS available)."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        gap_close_replay,
        streaming_gap_close_tws,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) // 3
    cut1, cut2 = lo + span, lo + 2 * span
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return gap_close_replay(e, cut1, cut2, _GAP_CLOSE_MS)
    base = scratch_dir("ltss_stream_gapclose")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    stage_batches(
        e,
        F.when(us < cut1, F.lit(0)).when(us < cut2, F.lit(1)).otherwise(F.lit(2)),
        3,
        src,
    )
    return streaming_gap_close_tws(spark, src, _GAP_CLOSE_MS)


@register(
    "stream_tws_totals",
    """
    SELECT user_id, ts, event_id,
           CAST(row_number() OVER w AS BIGINT) AS run_n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS run_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    survey="stream_stateful udaf (State API v2 VALUE-STATE half — "
    "transformWithStateInPandas running totals with exact-decimal state, "
    "VERDICT r9 item 2: three time-tercile micro-batches carry each key's "
    "(count, DECIMAL-string sum) prefix across batches; every emitted "
    "prefix is hash-checkable by construction because the state is exact "
    "decimal, one IEEE rounding per emission)",
)
def stream_tws_totals_q(spark, sf_dir):
    """Per-event running totals through State API v2 value state
    (streaming/stateful.streaming_running_totals_tws_dir): the events
    table split into three time-tercile parquet files (integer-µs cuts,
    mtime-ordered — the stream_gap_close recipe) drives
    transformWithStateInPandas with maxFilesPerTrigger=1, so the
    RocksDB-backed ValueState genuinely carries each user's
    (n, exact-decimal sum) across THREE real micro-batches. Global
    time-split files mean every key's batches arrive in event-time order
    — the documented prefix assumption. Capability-gated onto
    running_totals_replay (a windowed exact-DECIMAL prefix sum — the
    batch form of the identical arithmetic) when the session's JVM lacks
    a worker-visible protobuf runtime (stream_gap_close's precedent:
    same values either way, and tests/test_streaming.py pins
    stream == replay where the runtime IS available)."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        running_totals_replay,
        streaming_running_totals_tws_dir,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return running_totals_replay(e)
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) // 3
    cut1, cut2 = lo + span, lo + 2 * span
    base = scratch_dir("ltss_stream_tws_totals")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    stage_batches(
        e,
        F.when(us < cut1, F.lit(0)).when(us < cut2, F.lit(1)).otherwise(F.lit(2)),
        3,
        src,
    )
    return streaming_running_totals_tws_dir(spark, src)


@register(
    "stream_tws_ooo",
    """
    SELECT user_id, ts, event_id,
           CAST(row_number() OVER w AS BIGINT) AS run_n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS run_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    survey="stream_stateful stream_watermark udaf (State API v2 "
    "OUT-OF-ORDER prefix exactness, VERDICT r10 item 3: source files "
    "deliberately time-shuffled [middle, early, late], list-state "
    "buffering until the watermark proves the prefix, earliest-element "
    "event-time timers, Flink-style end-of-input watermark punctuation; "
    "output hash-identical to the ordered batch prefix oracle)",
)
def stream_tws_ooo_q(spark, sf_dir):
    """Out-of-order running totals (streaming/stateful.
    streaming_running_totals_tws_ooo): the events table split into three
    time-tercile parquet files delivered in the SHUFFLED order
    [middle, early, late] — each later batch contains events EARLIER
    than ones already processed, the exact layout the ordered
    stream_tws_totals entry documents as its unproven production case.
    The watermark delay is sized to the displacement (max(middle) -
    min(early), plus a 1 s guard) so nothing is late-dropped; a final
    sentinel file (event_id = -1 punctuation, one row per user) pushes
    the closing watermark past the stream max so every buffered prefix
    drains — bounded-input MAX_WATERMARK semantics. The result must
    hash-match the SAME windowed exact-DECIMAL oracle as the ordered
    entry: buffering + watermark + timers reconstruct event-time order
    exactly. Capability-gated onto running_totals_replay when the
    session's JVM lacks a worker-visible protobuf runtime (the
    stream_tws_totals precedent); tests/test_streaming.py pins
    stream == replay where the runtime IS available."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        running_totals_replay,
        streaming_running_totals_tws_ooo,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return running_totals_replay(e)
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) // 3
    cut1, cut2 = lo + span, lo + 2 * span
    # delay must cover the displacement: the early tercile arrives AFTER
    # the middle one, so its oldest event is (cut2 - lo) behind the
    # watermark's high point; +1 s guard against ms flooring
    delay_ms = (cut2 - lo) // 1000 + 1000
    sentinel_us = hi + (delay_ms + 1000) * 1000
    base = scratch_dir("ltss_stream_tws_ooo")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    sentinel = (
        e.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            F.col("user_id"),
            F.timestamp_micros(F.lit(sentinel_us)).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    # batch order: middle FIRST, then early — genuinely out of order —
    # then late; the watermark-punctuation sentinels ride IN the final
    # batch (r13: one fewer micro-batch than a separate sentinel file;
    # identical output — sentinels are dropped before buffering and only
    # move the watermark, which is computed AFTER the batch either way,
    # so the same end-of-input drain happens in availableNow's
    # finalization batch)
    stage_batches(
        e.unionByName(sentinel.select("event_id", "user_id", "ts", "value")),
        F.when((us >= cut1) & (us < cut2), F.lit(0))
        .when(us < cut1, F.lit(1))
        .otherwise(F.lit(2)),
        3,
        src,
    )
    return streaming_running_totals_tws_ooo(spark, src, delay_ms)


@register(
    "stream_distinct_state",
    """
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    survey="stream_stateful agg_distinct (State API v2 MAP-STATE half — "
    "per-key RocksDB map event_type->count, point-read/point-written per "
    "micro-batch across three tercile batches; the third TWS primitive "
    "after value state and event-time timers. Final cumulative state per "
    "key hash-checked against the batch COUNT(DISTINCT))",
)
def stream_distinct_state_q(spark, sf_dir):
    """Per-user distinct-event-type tracking through State API v2 MAP
    state (streaming/stateful.streaming_distinct_types_tws): the events
    table split into three time-tercile micro-batch files; each batch
    point-updates the key's type->count map and emits the cumulative
    (n_types, n_events), so the final row per key — what the oracle's
    plain GROUP BY COUNT(DISTINCT) recomputes — proves the map carried
    exact distinct state across batches. Capability-gated onto
    distinct_types_replay (the batch aggregate) when the session's JVM
    lacks a worker-visible protobuf runtime, the stream_tws_totals /
    stream_gap_close precedent; a pytest pins stream == replay where
    the runtime is available."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        distinct_types_replay,
        streaming_distinct_types_tws,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return distinct_types_replay(e)
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) // 3
    cut1, cut2 = lo + span, lo + 2 * span
    base = scratch_dir("ltss_stream_distinct_state")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    stage_batches(
        e,
        F.when(us < cut1, F.lit(0)).when(us < cut2, F.lit(1)).otherwise(F.lit(2)),
        3,
        src,
    )
    return streaming_distinct_types_tws(spark, src)


@register(
    "stream_list_state",
    """
    WITH ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_recent,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS recent_sum
    FROM ranked WHERE rn <= 5 GROUP BY user_id
    """,
    survey="stream_stateful win_rank (State API v2 LIST-STATE half — the "
    "fourth TWS primitive: per-key RocksDB last-5 buffer trimmed on every "
    "write, exact-decimal sum over the buffer. The max-k selection under "
    "(ts, event_id) makes the final state order-insensitive across "
    "micro-batches; hash-checked against the batch last-k window oracle)",
)
def stream_list_state_q(spark, sf_dir):
    """Per-user recent-activity feature through State API v2 LIST state
    (streaming/stateful.streaming_recent_k_tws): three time-tercile
    micro-batches feed a per-key last-5 buffer (list state trimmed on
    every write — O(k) state per key), and the final exact-decimal sum
    over each buffer hash-matches the batch oracle's per-key last-5
    window. Unlike the prefix operators, the last-k selection commutes
    across batch boundaries, so this entry's correctness does not even
    need the ordered-batch assumption. Capability-gated onto
    recent_k_replay when the JVM lacks a worker-visible protobuf
    runtime (stream_tws_totals precedent); a pytest pins
    stream == replay where the runtime is available."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        recent_k_replay,
        streaming_recent_k_tws,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return recent_k_replay(e, k=5)
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) // 3
    cut1, cut2 = lo + span, lo + 2 * span
    base = scratch_dir("ltss_stream_list_state")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    stage_batches(
        e,
        F.when(us < cut1, F.lit(0)).when(us < cut2, F.lit(1)).otherwise(F.lit(2)),
        3,
        src,
    )
    return streaming_recent_k_tws(spark, src, k=5)


@register(
    "stream_state_bootstrap",
    """
    WITH cut AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 3
               AS c1
      FROM events
    ),
    keys AS (
      SELECT DISTINCT user_id FROM events
      WHERE epoch_us(ts) >= (SELECT c1 FROM cut)
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events e JOIN keys USING (user_id)
    GROUP BY e.user_id
    """,
    survey="stream_stateful stream_ingest agg_basic (State API v2 "
    "INITIAL-STATE bootstrap: the first time-tercile batch-aggregated "
    "into per-key exact-decimal state that seeds the stream via "
    "handleInitialState, then two real micro-batches fold on top — the "
    "migrate-a-monitor-onto-streaming pattern, no history replay through "
    "the state store. Totals over history+stream hash-checked against "
    "the whole-table aggregate for every streamed key)",
)
def stream_state_bootstrap_q(spark, sf_dir):
    """Warm-started streaming totals (streaming/stateful.
    streaming_bootstrap_totals_tws): the first event-time tercile is
    aggregated in BATCH to per-user (n, exact-decimal sum) and handed to
    transformWithStateInPandas as initialState; terciles 2-3 stream as
    real micro-batch files on top of the seeded state. The final
    cumulative totals equal the whole-table GROUP BY for every user with
    at least one streamed row — which is what the oracle recomputes
    (history-only users never emit, by contract). Both the history
    aggregate and the stream fold use the same exact-decimal
    representation, so the split is arithmetically invisible.
    Capability-gated onto bootstrap_totals_replay in JVMs without a
    worker-visible protobuf runtime; a pytest pins stream == replay
    where it is available."""
    import os

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        _require_worker_visible_protobuf,
        bootstrap_history_state,
        bootstrap_totals_replay,
        streaming_bootstrap_totals_tws,
        tws_available,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    cut1 = lo + (hi - lo) // 3
    use_tws = tws_available()
    if use_tws:
        try:
            _require_worker_visible_protobuf(spark)
        except RuntimeError:
            use_tws = False  # JVM predates the runtime export: replay path
    if not use_tws:
        return bootstrap_totals_replay(e, cut1)
    cut2 = lo + 2 * ((hi - lo) // 3)
    init = bootstrap_history_state(e.filter(us < cut1))
    base = scratch_dir("ltss_stream_bootstrap")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    stage_batches(
        e.filter(us >= cut1),
        F.when(us < cut2, F.lit(0)).otherwise(F.lit(1)),
        2,
        src,
    )
    return streaming_bootstrap_totals_tws(spark, src, init)
