"""Continuous aggregate — TimescaleDB's materialized rollup analogue
(SURVEY.md §2.B B4: the reference's ecosystem answers Grafana dashboards
from continuous aggregates over the hypertable; this engine maintains the
same rollup incrementally with Structured Streaming).

Design: an **update log**, not in-place mutation. Each micro-batch's
changed (bucket, entity) aggregate rows are APPENDED with the batch epoch;
readers resolve latest-epoch-wins per key; a compaction job periodically
rewrites the log to a single epoch. This is the standard incremental
materialized-view shape (delta log + compaction) and avoids the
read-your-own-output overwrite hazard entirely — appends are atomic,
readers never see a partial state.

Scale: the log is partitioned by day (hypertable chunks); a batch touches
only the partitions its events fall in; compaction is per-partition and
embarrassingly parallel. Reader dedup is one hash aggregation over the
(small) rollup, not the raw events.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ltss_spark.functions.numeric import davg
from ltss_spark.ingest import states_from_events
from ltss_spark.streaming.windows import (
    SHUFFLE_PARTITIONS,
    bounded_events_stream,
    bounded_source_state_partitions,
    run_available_now,
)

#: rollup metrics, shared by the streaming maintainer and the batch oracle
_METRICS = ("n_events", "avg_state", "min_state", "max_state")


def maintain_rollup_availablenow(
    spark: SparkSession,
    source_dir: str,
    base: str,
    checkpoint: str,
    bucket: str = "1 hour",
) -> None:
    """Drive the continuous aggregate over the (bounded) event stream:
    update-mode windowed aggregation -> foreachBatch appends changed rows
    stamped with the epoch, partitioned by day."""
    states = states_from_events(bounded_events_stream(spark, source_dir))
    v = F.col("state").try_cast("double")
    agg = (
        states.withWatermark("time", "1 hour")
        .groupBy(F.window("time", bucket).alias("w"), F.col("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(v).alias("avg_state"),
            F.min(v).alias("min_state"),
            F.max(v).alias("max_state"),
        )
        .select(F.col("w.start").alias("bucket_start"), "entity_id", *_METRICS)
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        # cluster the (small, aggregated) batch by its partition column
        # first: one file per day per epoch instead of one per shuffle
        # partition per day (~32x fewer files; rollup rows per day are
        # bounded by |entities| x buckets/day, so no skew hazard)
        (
            batch.withColumn("epoch", F.lit(epoch_id))
            .withColumn("day", F.date_format("bucket_start", "yyyy-MM-dd"))
            .repartition(F.col("day"))
            .write.mode("append")
            .partitionBy("day")
            .parquet(base)
        )

    # input-derived state partitioning (r13, guide §2): the windowed
    # aggregation keeps one state-store instance per shuffle partition and
    # streaming has no AQE to coalesce — sized from the bounded source
    # instead of the batch session's core-count constant
    n_parts = bounded_source_state_partitions(f"{source_dir}/events.parquet")
    run_available_now(
        spark,
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint),
        {SHUFFLE_PARTITIONS: n_parts},
    )


def read_rollup(spark: SparkSession, base: str) -> DataFrame:
    """Resolve the update log: latest epoch wins per (bucket, entity).
    One hash aggregation (max_by over the packed metrics), partition
    pruning applies to any day/bucket predicate pushed on top."""
    log = spark.read.parquet(base)
    packed = F.max_by(F.struct(*_METRICS), F.col("epoch"))
    resolved = log.groupBy("bucket_start", "entity_id").agg(packed.alias("m"))
    return resolved.select(
        "bucket_start",
        "entity_id",
        *[F.col(f"m.{c}").alias(c) for c in _METRICS],
    )


def compact_rollup(spark: SparkSession, base: str, out: str) -> None:
    """Rewrite the log to a single resolved epoch (per-partition rewrite;
    run periodically, exactly like TimescaleDB's materializer catch-up)."""
    (
        read_rollup(spark, base)
        .withColumn("epoch", F.lit(0))
        .withColumn("day", F.date_format("bucket_start", "yyyy-MM-dd"))
        # rebalance-by-day (r12): the resolved frame leaves the epoch
        # window partitioned by its group keys, so an unhinted write fans
        # every task across every day — the small-files shape the sink's
        # own repartition already avoids on the append path
        .hint("rebalance", "day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
