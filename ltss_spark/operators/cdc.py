"""Change-data-capture apply: insert/update/DELETE merge onto parquet.

The PK-upsert sink (sources/batch.upsert_partitioned — the reference's
``ON CONFLICT DO UPDATE``, models.py:31-32) covers inserts and updates;
a CDC feed (Debezium/DMS-style) adds the third verb, DELETE, and drops
the assumption that changes arrive in commit order. This module applies
such a feed to an immutable-parquet table with the two properties a
replayed, out-of-order feed requires:

- **last-writer-wins by a monotonic version**, not by arrival order: a
  micro-batch replaying an OLD change can never regress a key, because
  the survivor per PK is picked by ``version_col`` DESC over existing ∪
  batch — the same rule for all three ops;
- **durable tombstones**: a delete is STORED as a row flagged
  ``_tombstone = true`` rather than physically removed, so a stale
  update arriving in a LATER batch (version below the tombstone's)
  loses the window and cannot resurrect the key. Physical removal is
  deferred to ``cdc_compact`` with an explicit version horizon — the
  point past which the feed guarantees no older change can still arrive
  (Kafka retention / Debezium snapshot watermark). This is the
  Hudi/Iceberg soft-delete + compaction contract, re-expressed as plain
  parquet + one window.

The merge and the write are not this module's: cdc_apply runs the keyed
merge every partitioned writer shares (``sources.batch._merge_on_pk``,
the rule upsert_partitioned applies by ``tie_breaker``) and its
dynamic-overwrite tail (``_overwrite_partitions``). This module adds the
bucket layout, the tombstones, the materialization before the overwrite
(``_resolve_survivors``) and compaction.

Scale shape (100 TB): the target is hash-bucket partitioned on the PK
(``pmod(xxhash64(pk), n_buckets)`` — the Hudi bucket-index layout), so a
batch rewrites ONLY the buckets its keys touch: cost ∝ touched buckets'
data, never the table. The merge is one shuffle on the PK, co-located
with the bucket partitioning; the touched-bucket list is the only
driver-side collect and is bounded by ``n_buckets``. Unlike the
month-partitioned upsert (which needs the partition key inside the PK),
hash bucketing works for ANY primary key — the natural layout for a
keyed dimension table maintained from a change stream.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ltss_spark.sources.batch import (
    _merge_on_pk,
    _overwrite_partitions,
    _touched_partitions,
)

BUCKET_COL = "__cdc_bucket"
TOMBSTONE_COL = "_tombstone"

#: loud ceiling on the bucket count: the touched-bucket and dirty-bucket
#: driver collects are bounded by n_buckets, so an absurd bucket count is
#: rejected at apply time instead of OOMing the driver later (VERDICT r12)
MAX_DRIVER_BUCKETS = 1_000_000


def _with_bucket(df: DataFrame, pk: tuple[str, ...], n_buckets: int) -> DataFrame:
    # xxhash64 over the PK columns directly (not a concat — no separator
    # ambiguity), pmod so the bucket id is non-negative
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*pk), F.lit(n_buckets)).cast("int")
    )


def _resolve_survivors(
    spark: SparkSession,
    path: str,
    ch: DataFrame,
    buckets: list[int],
    pk: tuple[str, ...],
    version_col: str,
) -> DataFrame:
    """The frame cdc_apply hands to the overwrite: the shared keyed merge
    (sources.batch._merge_on_pk, LWW by ``version_col``) of the bucketed
    change frame ``ch`` over the ``buckets`` it touches, MATERIALIZED
    (localCheckpoint) so its lineage no longer reads ``path``. The apply
    step dynamic-partition-overwrites the very buckets this frame is
    derived from, and a lazily-evaluated plan would be deleting its own
    input mid-commit — a failure there leaves buckets half-replaced with
    no way to recompute. Cutting the lineage to executor-held blocks
    first makes the overwrite a pure write of already-computed data
    (the same contract cdc_compact keeps); the materialized size is
    bounded by the touched buckets' data, never the table."""
    merged = _merge_on_pk(spark, path, ch, BUCKET_COL, buckets, pk, version_col)
    return merged.localCheckpoint()


def cdc_apply(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    pk: tuple[str, ...],
    version_col: str = "version",
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 32,
) -> list[int]:
    """Apply one batch of changes (rows carrying ``op_col`` ∈ {insert/
    update ops, ``delete_op``}) to the bucketed table at ``path``.
    Any non-delete op value is an upsert — CDC 'I' vs 'U' only differ
    for consumers that care about history, not for table maintenance.

    Returns the rewritten bucket ids (sorted). Idempotent under replay:
    re-applying any batch, in any order, converges to the same table
    because the survivor rule depends only on (version, tombstone)."""
    if n_buckets > MAX_DRIVER_BUCKETS:
        raise ValueError(
            f"cdc_apply: n_buckets={n_buckets} exceeds "
            f"{MAX_DRIVER_BUCKETS}; the touched-bucket collect (and "
            "cdc_compact's dirty-bucket tally) are driver-side lists "
            "bounded by n_buckets — a bucket count this high is a "
            "layout mistake, not a workload."
        )
    # eqNullSafe (ADVICE r12): a NULL op must normalize to tombstone=False
    # (kept, counted as a regular row) — a NULL tombstone would slip
    # through BOTH cdc_read's `~tombstone` filter and cdc_compact's
    # purge tally, silently dropping the row from `remaining` while
    # never counting it as purged.
    ch = _with_bucket(changes, pk, n_buckets).withColumn(
        TOMBSTONE_COL, F.col(op_col).eqNullSafe(F.lit(delete_op))
    ).drop(op_col)
    ch, buckets = _touched_partitions(ch, BUCKET_COL)
    if not buckets:
        return []
    resolved = _resolve_survivors(spark, path, ch, buckets, pk, version_col)
    _overwrite_partitions(resolved, path, BUCKET_COL)
    return buckets


def cdc_read(spark: SparkSession, path: str) -> DataFrame:
    """The logical table: stored rows minus tombstones, maintenance
    columns dropped. This is the only read path consumers should use —
    reading the parquet directly exposes soft-deleted keys."""
    return (
        spark.read.parquet(path)
        .filter(~F.col(TOMBSTONE_COL))
        .drop(TOMBSTONE_COL, BUCKET_COL)
    )


def cdc_compact(
    spark: SparkSession,
    path: str,
    version_horizon: int,
    version_col: str = "version",
) -> int:
    """Physically remove tombstones whose ``version_col`` ≤ ``version_horizon``
    — safe once the feed can no longer deliver a change older than the
    horizon (retention window / snapshot watermark). Rewrites only the
    buckets that actually hold purgeable tombstones (partition-pruned,
    like the apply path). Returns the number of rows purged."""
    t = spark.read.parquet(path)
    purgeable = F.col(TOMBSTONE_COL) & (F.col(version_col) <= F.lit(version_horizon))
    # per-bucket purgeable counts in ONE aggregate: the bucket list AND
    # n_purged both fall out of the same scan (r12 — the old shape paid a
    # second pruned scan just to count `scoped` for the purge tally;
    # purgeable rows are exactly scoped-minus-remaining, so summing the
    # per-bucket counts is the same number)
    dirty = (
        t.filter(purgeable).groupBy(BUCKET_COL).agg(F.count(F.lit(1)).alias("n"))
    ).collect()
    buckets = sorted(r[BUCKET_COL] for r in dirty)
    if not buckets:
        return 0
    n_purged = sum(r["n"] for r in dirty)
    scoped = t.filter(F.col(BUCKET_COL).isin(buckets))
    # eager checkpoint: `remaining` is about to overwrite the very files it
    # reads from; materializing first also lets us see which buckets end
    # up EMPTY — dynamic partition overwrite only replaces partitions it
    # writes rows INTO, so an all-purged bucket would otherwise keep its
    # old files (the initial implementation's bug, caught by
    # test_compact_purges_only_past_horizon)
    remaining = scoped.filter(~purgeable).localCheckpoint()
    kept = {r[BUCKET_COL] for r in remaining.select(BUCKET_COL).distinct().collect()}
    if kept:
        _overwrite_partitions(remaining, path, BUCKET_COL)
    hconf = spark._jsc.hadoopConfiguration()
    for b in (b for b in buckets if b not in kept):
        jdir = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/{BUCKET_COL}={b}")
        jdir.getFileSystem(hconf).delete(jdir, True)
    return n_purged


def run_cdc_stream(
    spark: SparkSession,
    changes_dir: str,
    target_path: str,
    checkpoint: str,
    pk: tuple[str, ...],
    version_col: str = "version",
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 32,
    max_files_per_trigger: int = 1,
) -> None:
    """Bounded Structured-Streaming driver: each micro-batch of the
    change feed is applied with ``cdc_apply`` via foreachBatch. With
    ``maxFilesPerTrigger=1`` each change file is its own transaction,
    in modification-time order — the Kafka-partition replay shape."""
    schema = spark.read.parquet(changes_dir).schema

    def body(batch: DataFrame, epoch_id: int) -> None:
        cdc_apply(
            batch.sparkSession,
            target_path,
            batch,
            pk,
            version_col=version_col,
            op_col=op_col,
            delete_op=delete_op,
            n_buckets=n_buckets,
        )

    # input-derived shuffle sizing for the per-batch merge (r13, guide
    # §2): each micro-batch is one small change file and the survivor
    # window + bucket rewrite otherwise fan out to the batch session's
    # core-count constant per batch; env-overridable via
    # LTSS_STREAM_STATE_PARTITIONS like every bounded-stream driver
    from ltss_spark.streaming.windows import (
        SHUFFLE_PARTITIONS,
        bounded_source_state_partitions,
        run_available_now,
    )

    n_parts = bounded_source_state_partitions(changes_dir)
    run_available_now(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(changes_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint),
        {SHUFFLE_PARTITIONS: n_parts},
    )
