"""Streaming incremental near-duplicate detection.

The batch dedup family answers "which documents in THIS corpus are
near-dups of each other"; a live ingestion pipeline needs the other
tense — "is this NEW document a near-dup of anything we already hold?"
as batches arrive. Mechanism:

- a persistent SIGNATURE STORE holds the (band, band_sig) LSH keys of
  every document seen so far (``operators.dedup.band_signatures`` — the
  same keys the batch pair join buckets on), laid out hash-bucketed on
  the signature key: ``partitionBy(pmod(xxhash64(band, band_sig), N))``;
- each micro-batch computes its own band signatures ONCE, probes the
  store with a semi-join (a doc is flagged iff ANY of its bands already
  exists), appends its verdicts to the output, and then appends its own
  signatures to the store — so later batches see earlier batches'
  documents, exactly the reference's insert-then-visible ordering.

Scale shape: the probe reads ONLY the store buckets the batch's own
signatures hash into — a `isin`(batch buckets) partition filter that
prunes at the directory listing, so per-batch probe I/O is bounded by
|batch buckets| / N of the store, never a full scan per micro-batch
(the r5/r6 flat-store flaw). The per-batch work is |batch| shingles +
one equi-join against the pruned slice, never corpus x corpus. State
lives in FILES, not executor memory — a restart rebuilds nothing
(contrast applyInPandasWithState, whose store must fit the state
backend).

Flag-only semantics (like the reference's duplicate handling, PK
models.py:31-32: later arrivals are the duplicates): the FIRST document
of a near-dup cluster to arrive is kept clean, later ones flag. Within
one micro-batch, intra-batch duplicates are NOT flagged against each
other (they probe the store as it stood before the batch); the batch
boundary is the visibility boundary, the same contract as the PK-upsert
sink's staging dedup.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

#: partition column of the signature store: hash bucket of the full
#: signature key. Both the seed and every stream append must use the same
#: bucket count — it is baked into the directory layout.
SIG_BUCKET_COL = "__sig_bucket"

#: outer partition column of the store AND the verdict output: the
#: foreachBatch epoch that wrote the rows (-1 = the seeded corpus). The
#: epoch level is what makes a crash-restart replay IDEMPOTENT: both
#: writes are dynamic partition OVERWRITES of their own epoch partition
#: (a replayed batch rewrites the same directories instead of appending
#: duplicates), and the probe filters ``__epoch < current`` so a replay
#: whose signatures already landed before the crash cannot match the
#: batch against itself.
EPOCH_COL = "__epoch"


def _with_sig_bucket(sigs: DataFrame, n_buckets: int) -> DataFrame:
    # xxhash64 over both key columns (not band alone: every document emits
    # one signature PER band, so band-only partitioning would make every
    # batch touch every partition and prune nothing)
    return sigs.withColumn(
        SIG_BUCKET_COL,
        F.pmod(F.xxhash64("band", "band_sig"), F.lit(n_buckets)).cast("int"),
    )


def seed_signature_store(
    sigs: DataFrame, store_path: str, n_buckets: int = 64
) -> None:
    """Write a pre-existing corpus's band signatures as the initial store
    in the bucketed layout the stream probe prunes on (under
    ``__epoch=-1`` — strictly earlier than any stream batch).
    Repartitioned on the bucket column first: partitionBy alone writes
    one file per (task x bucket) — up to cores x N tiny files — where
    clustering buckets into tasks bounds the file count by the touched
    buckets."""
    bucketed = _with_sig_bucket(sigs, n_buckets).withColumn(
        EPOCH_COL, F.lit(-1).cast("long")
    )
    bucketed.repartition(F.col(SIG_BUCKET_COL)).write.mode(
        "error"
    ).partitionBy(EPOCH_COL, SIG_BUCKET_COL).parquet(store_path)


def _pruned_store(
    spark: SparkSession,
    store_path: str,
    buckets: list[int],
    before_epoch: int | None = None,
) -> DataFrame:
    """The store slice a probe actually reads: an `isin` over the bucket
    partition column, pruned at the manifest/directory level (shows as
    PartitionFilters on the scan — zero data files outside the batch's
    own buckets are opened). ``before_epoch`` additionally prunes to
    strictly earlier epochs, which is what keeps a crash-restart replay
    from matching a batch against its own already-landed signatures."""
    out = spark.read.parquet(store_path).filter(
        F.col(SIG_BUCKET_COL).isin(buckets)
    )
    if before_epoch is not None:
        out = out.filter(F.col(EPOCH_COL) < before_epoch)
    return out


def run_streaming_near_dup(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
    max_files_per_trigger: int = 1,
    n_buckets: int = 64,
) -> None:
    """Run the bounded near-dup stream over the parquet files in
    ``docs_dir``: per micro-batch, append (doc_id, dup_of_earlier) to
    ``out_path`` and the batch's signatures to ``store_path``. Seed the
    store beforehand with :func:`seed_signature_store` (same
    ``n_buckets``) to dedup against a pre-existing corpus."""
    from ltss_spark.operators.dedup import band_signatures

    schema = spark.read.parquet(docs_dir).schema

    def body(batch: DataFrame, epoch_id: int) -> None:
        # eager checkpoint: the signatures feed the probe AND the store
        # append; uncheckpointed, the shingle pipeline would run twice
        sigs = _with_sig_bucket(
            band_signatures(batch, text_col, id_col, k, num_hashes, bands),
            n_buckets,
        ).localCheckpoint()
        # the batch's bucket set: bounded driver-side metadata
        # (≤ n_buckets values), the same collect-to-prune shape as
        # cdc_apply's touched-bucket list
        buckets = sorted(
            r[SIG_BUCKET_COL]
            for r in sigs.select(SIG_BUCKET_COL).distinct().collect()
        )
        bspark = batch.sparkSession
        try:
            # epoch filter: strictly earlier epochs only, so a replayed
            # batch whose signatures already landed before a crash never
            # matches itself (ADVICE-grade r12 self-review fix)
            store = _pruned_store(bspark, store_path, buckets, epoch_id)
            hit = (
                sigs.join(store, ["band", "band_sig"], "left_semi")
                .select("doc_id")
                .distinct()
                .withColumn("__dup", F.lit(True))
            )
        except AnalysisException as e:
            # ONLY the unseeded-store case (path missing) means "no prior
            # corpus"; any other analysis failure (corrupt store, schema
            # drift) must fail the batch loudly — a swallowed error here
            # would silently record every doc as clean
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            hit = None
        out = batch.select(F.col(id_col).alias("doc_id"))
        if hit is not None:
            out = out.join(hit, "doc_id", "left").select(
                "doc_id", F.coalesce("__dup", F.lit(False)).alias("dup_of_earlier")
            )
        else:
            out = out.select("doc_id", F.lit(False).alias("dup_of_earlier"))
        # idempotent replay: both writes are dynamic partition OVERWRITES
        # of this epoch's own partition — a crash between the two writes
        # (or after both, before the checkpoint commit) replays into the
        # same directories instead of appending duplicate rows
        out.withColumn(EPOCH_COL, F.lit(epoch_id).cast("long")).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            EPOCH_COL
        ).parquet(out_path)
        # visibility boundary: the batch's own signatures enter the store
        # AFTER its verdicts are written. Repartition on the bucket column
        # so the write lands ONE file per touched bucket, not one per
        # (task x bucket) — micro-batches are small and frequent, and
        # uncontrolled file counts are their own 100 TB failure mode.
        sigs.withColumn(EPOCH_COL, F.lit(epoch_id).cast("long")).repartition(
            F.col(SIG_BUCKET_COL)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(EPOCH_COL, SIG_BUCKET_COL).parquet(store_path)

    # input-derived shuffle sizing for the per-batch joins/aggregates
    # (r13, guide §2): micro-batches are single small files here and the
    # foreachBatch body's plans run without AQE coalescing help at the
    # fan-out stage; sized from the bounded source, env-overridable
    from ltss_spark.streaming.windows import (
        SHUFFLE_PARTITIONS,
        bounded_source_state_partitions,
        run_available_now,
    )

    n_parts = bounded_source_state_partitions(docs_dir)
    run_available_now(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint),
        {SHUFFLE_PARTITIONS: n_parts},
    )
