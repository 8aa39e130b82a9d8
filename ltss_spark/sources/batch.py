"""Batch sources and sinks (SURVEY.md §2.C scan_parquet / sink_append /
sink_partitioned).

The reference's storage layout is a single time-chunked hypertable
(/root/reference/custom_components/ltss/__init__.py:336-344, 30-day default
chunk, __init__.py:60-62). The Spark-native equivalent is parquet written
``partitionBy`` a derived time-bucket column: Catalyst partition pruning then
plays the role of hypertable chunk exclusion, and parquet column stats play
the role of the btree indexes (models.py:75-80).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

#: every table the driver materializes (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_times(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the driver's events timestamp to a session-TZ TIMESTAMP.

    The driver has shipped two encodings across rounds: TIMESTAMP(NANOS)
    (no Spark type — read as a nanosecond long via legacy.parquet.nanosAsLong
    and integer-divided to micros, exactly DuckDB's ns->us cast) and plain
    micros with isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both land on
    TIMESTAMP here: with the session pinned to UTC the NTZ wall clock IS the
    UTC instant, so the cast is value-identical to what the oracle sees.
    No-op if already TIMESTAMP."""
    if col not in df.columns:
        return df
    dtype = dict(df.dtypes)[col]
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: below this on-disk size a table is broadcast-dimension material — not
#: worth a repartition shuffle (region/nation/supplier class)
_TINY_BYTES = 256 * 1024


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size config value ('134217728', '512m', '128MB',
    '1g') — int(v.rstrip('b')) would throw on any size-suffixed setting a
    foreign (driver-provided) session may carry."""
    v = v.strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if v.rstrip("b").endswith(suffix):
            v = v.rstrip("b")[: -1]
            mult = m
            break
    else:
        v = v.rstrip("b") or v
    try:
        # float first: Spark accepts fractional sizes like '0.5g', which
        # int() alone would reject (silently yielding the default below)
        return int(float(v) * mult)
    except ValueError:
        return 128 * 1024 * 1024  # Spark's default maxPartitionBytes


def _splittable_cache(spark: SparkSession, path: str) -> str | None:
    """LOCAL-FIXTURE mitigation: rewrite a single-file, single-row-group
    parquet fixture once into an n-file copy under /tmp and return its
    path, so every later scan starts with real splits instead of paying a
    round-robin repartition SHUFFLE per action (~0.5 s per query at sf0.1 —
    measured; the shuffle was the old rescue). Keyed by (path, mtime, size)
    so a regenerated fixture invalidates; written to a unique dir then
    atomically renamed, so concurrent sessions race safely (loser keeps the
    winner's copy). Returns None on any failure — caller falls back to the
    repartition rescue. Never triggers on a real multi-split table."""
    import hashlib
    import shutil
    import tempfile
    import uuid

    try:
        st = os.stat(path)
        key = hashlib.md5(
            f"{os.path.abspath(path)}:{st.st_mtime_ns}:{st.st_size}".encode()
        ).hexdigest()[:16]
        cache = os.path.join(tempfile.gettempdir(), "ltss_fixture_cache", key)
        marker = os.path.join(cache, "_SUCCESS")
        if os.path.exists(marker):
            return cache
        tmp = f"{cache}.{uuid.uuid4().hex}"
        n = max(2, spark.sparkContext.defaultParallelism)
        spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(tmp)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        try:
            os.rename(tmp, cache)
        except OSError:  # another session won the race
            shutil.rmtree(tmp, ignore_errors=True)
        return cache if os.path.exists(marker) else None
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """DataSource-V2 parquet scan: column pruning + predicate pushdown are
    free once downstream ops stay declarative (check ``PushedFilters`` /
    ``ReadSchema`` in ``df.explain('formatted')``).

    Parallelism rescue: the driver's local fixtures are single-file,
    single-row-group parquet — unsplittable, so every scan would otherwise
    feed exactly ONE task and serialize the whole downstream pipeline. Such
    a file is rewritten ONCE into a splittable /tmp copy (amortized across
    all queries of the session and process-safe); if that fails, fall back
    to a per-action round-robin repartition (filters still push THROUGH the
    exchange to the scan, so pushdown/pruning are unaffected either way).
    On a production table all of this is a no-op: a 100 TB table has
    thousands of splits, and the branch never triggers.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # DataFrame-handle cache: schema inference + footer listing costs
    # ~0.1 s per call on local[32], and a single registry query builds the
    # same table frame up to 6 times (sql_q5). The logical plan is
    # immutable and session-bound, so reuse it — keyed by application id
    # (never leaks across sessions) and file mtime/size (a regenerated
    # fixture invalidates). Caveat: spark.read.parquet pins its file
    # listing (InMemoryFileIndex) at PLAN BUILD time, and the
    # (mtime_ns, size) key is taken on the top-level path only — so the
    # cache is valid only for whole-path rewrites (replace the file /
    # directory wholesale, as the fixtures do). A rewrite INSIDE a
    # partition subdirectory neither bumps the parent mtime nor refreshes
    # the captured listing; directory datasets mutated in place must
    # bypass this cache (load_table_uncached).
    try:
        st = os.stat(path)
        cache_key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        cache_key = None
    if cache_key is not None:
        hit = _TABLE_CACHE.get(cache_key)
        if hit is not None:
            return hit
    df = _load_table_uncached(spark, sf_dir, name, path)
    if cache_key is not None:
        if len(_TABLE_CACHE) > 256:  # bound: stale sessions/fixtures
            _TABLE_CACHE.clear()
        _TABLE_CACHE[cache_key] = df
    return df


_TABLE_CACHE: dict[tuple, DataFrame] = {}


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str, path: str
) -> DataFrame:
    # cheap layout check, no planning pass: a single file under
    # maxPartitionBytes always scans as one partition
    if os.path.isfile(path):
        try:
            n_bytes = os.path.getsize(path)
        except OSError:
            n_bytes = 0
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if _TINY_BYTES < n_bytes < max_split:
            cached = _splittable_cache(spark, path)
            if cached is not None:
                df = spark.read.parquet(cached)
            else:
                df = spark.read.parquet(path).repartition(
                    spark.sparkContext.defaultParallelism
                )
            return normalize_event_times(df) if name == "events" else df
    df = spark.read.parquet(path)
    return normalize_event_times(df) if name == "events" else df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Bucketed table write (SURVEY §7 100 TB posture: "partition on time +
    bucket-by-entity layout"): rows are hash-clustered into ``n_buckets``
    files by ``bucket_col`` and sorted within each, and the layout is
    recorded in the catalog. A join or aggregation keyed on ``bucket_col``
    between tables bucketed the same way then runs with NO shuffle exchange
    — each task zips bucket i with bucket i. At 100 TB this turns the
    nightly fact-to-fact join from a full-network shuffle into a local
    merge, the same trade TimescaleDB makes clustering chunks on the
    (entity_id, time) index (models.py:78-80).

    ``saveAsTable`` is required (bucket metadata lives in the catalog, not
    the files); the session's in-memory catalog works — no Hive needed.

    The frame is hash-repartitioned on the bucket column into
    ``n_buckets`` partitions BEFORE the write (r12, guide §6): Spark's
    bucketed writer emits one file per (task, non-empty bucket), so an
    unclustered write from T tasks produces up to T x n_buckets small
    files (measured 256 x ~7 KB per table at sf0.1). ``repartition(n,
    col)`` uses the same pmod(murmur3) mapping as the bucket id, so each
    task then holds exactly one bucket and writes exactly one file —
    the "hash distribution mode" trade (one shuffle for a sane file
    count) that table formats make on every bucketed/clustered write.
    """
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    time_col: str = "time",
    bucket_fmt: str = "yyyy-MM",
    mode: str = "overwrite",
    stats_unit: str | None = None,
    stats_sig_cols: list[str] | None = None,
) -> None:
    """Time-partitioned append sink — the hypertable-chunking analogue
    (reference: create_hypertable + chunk_time_interval,
    __init__.py:336-344).

    ``bucket_fmt='yyyy-MM'`` mirrors the reference's 30-day default chunk.
    At 100 TB the partition column bounds each file-listing + scan to the
    months a time predicate touches; within a partition we sort by
    (entity_id, time) so parquet row-group min/max stats can skip files for
    per-entity scans — the stand-in for the reference's
    (entity_id, time DESC) composite index (models.py:78-80).

    ``stats_unit`` additionally records the per-bucket fingerprint sidecar
    at that granularity (write_bucket_stats) so downstream
    refresh_rollup(source_stats=...) change detection is a metadata read.
    """
    bucketed = df.withColumn("month", F.date_format(F.col(time_col), bucket_fmt))
    # REBALANCE BY month before the write (guide-style clustered write):
    # unhinted, EVERY map task writes a file into EVERY month it holds —
    # tasks x months tiny files (measured 32 x 76 KB for one month at
    # sf0.1). The AQE rebalance coalesces small months into shared tasks
    # and SPLITS oversized months across tasks (write parallelism inside
    # a hot month survives, unlike a plain repartition("month")), so file
    # count tracks data size, not task count. Measured: 32 -> 1 file,
    # write+readback time neutral (0.70 -> 0.75 s); rows identical.
    bucketed = bucketed.hint("rebalance", "month")
    (
        bucketed.sortWithinPartitions("entity_id", time_col)
        if "entity_id" in df.columns
        else bucketed
    ).write.mode(mode).partitionBy("month").parquet(path)
    if stats_unit is not None:
        write_bucket_stats(
            df.sparkSession,
            path,
            time_col=time_col,
            unit=stats_unit,
            sig_cols=stats_sig_cols,
            bucket_fmt=bucket_fmt,
        )


#: sidecar directory for write-time per-bucket content fingerprints
_STATS_DIR = "_bucket_stats"


def write_bucket_stats(
    spark: SparkSession,
    path: str,
    time_col: str = "time",
    unit: str = "day",
    sig_cols: list[str] | None = None,
    months: list[str] | None = None,
    bucket_fmt: str = "yyyy-MM",
) -> None:
    """Record per-bucket content fingerprints for the partitioned table at
    ``path`` — the metadata that turns continuous-aggregate change
    detection into a sidecar read instead of a source scan
    (docs/ARCHITECTURE.md "known limits": at petabyte scale the
    fingerprint pass should come from statistics recorded at write).

    Fingerprints are computed by RE-READING the just-written files (the
    stats describe what is on disk, not what the writer intended — a
    column-pruned scan of sig_cols, partition-pruned to ``months`` when
    given), at ``unit`` granularity via the same
    :func:`ltss_spark.operators.cagg.bucket_fingerprints` the scan-based
    refresh uses, so sidecar-driven and scan-driven refreshes are
    bit-comparable. With ``months`` the sidecar is MERGED: rows for
    untouched months carry over, touched months' buckets are replaced —
    the upsert path's incremental maintenance.
    """
    from ltss_spark.operators.cagg import bucket_fingerprints

    # month-scoped incremental maintenance assumes every stats bucket lies
    # INSIDE one month partition; a coarser unit (year/quarter) spans
    # months, so a touched-month recompute would see only a slice of the
    # bucket and record a wrong fingerprint — recompute the whole sidecar
    # instead (still metadata-cheap relative to the rewrite it follows).
    if months is not None and unit in ("year", "quarter"):
        months = None
    src = spark.read.parquet(path)
    if months is not None:
        src = src.filter(F.col("month").isin(list(months)))
    cols = sig_cols or [c for c in src.columns if c != "month"]
    fresh = bucket_fingerprints(src, time_col, unit, cols).withColumn(
        "unit", F.lit(unit)
    )
    stats_path = f"{path}/{_STATS_DIR}"
    if months is not None:
        try:
            kept = (
                spark.read.parquet(stats_path)
                .filter(~F.date_format("bucket", bucket_fmt).isin(list(months)))
                # materialize BEFORE the overwrite deletes the files the
                # lazy plan reads
                .localCheckpoint()
            )
            fresh = kept.unionByName(fresh)
        except Exception:
            pass  # no sidecar yet -> fresh covers the touched months only
    fresh.write.mode("overwrite").parquet(stats_path)


def read_bucket_stats(spark: SparkSession, path: str) -> DataFrame:
    """The write-time fingerprint sidecar: (bucket, src_rows, src_sig,
    unit) — feed to refresh_rollup(source_stats=...) for scan-free change
    detection (it selects the fingerprint columns; ``unit`` records the
    granularity the stats were computed at, which must equal the
    rollup's). Raises if the table was written without stats."""
    return spark.read.parquet(f"{path}/{_STATS_DIR}")


def drop_partitions(
    spark: SparkSession,
    path: str,
    before: str,
    partition_col: str = "month",
    bucket_fmt: str = "yyyy-MM",
) -> list[str]:
    """Retention: delete every ``partition_col=<key>`` directory with
    key < ``before`` — TimescaleDB's ``drop_chunks`` on a partitioned
    parquet table (the reference promotes its table to a hypertable
    precisely to make retention a chunk drop, __init__.py:336-344).

    Directory unlinks through the Hadoop FileSystem API, so the same call
    works on s3a://, hdfs://, and local paths — never a scan-and-rewrite
    of surviving rows; cost is one listing plus one delete per expired
    partition. If the table carries a write-time fingerprint sidecar
    (write_bucket_stats), the dropped months' rows are pruned from it
    too, so a sidecar-driven refresh_rollup sees the deletion as stale
    buckets instead of trusting stale metadata. Returns dropped keys."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{partition_col}="
    dropped: list[str] = []
    if not fs.exists(jpath):
        return dropped
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            key = name[len(prefix):]
            if key < before:
                fs.delete(status.getPath(), True)
                dropped.append(key)
    if dropped:
        stats_path = f"{path}/{_STATS_DIR}"
        try:
            stats = spark.read.parquet(stats_path)
            units = {r["unit"] for r in stats.select("unit").distinct().collect()} \
                if "unit" in stats.columns else {None}
            if units & {"year", "quarter"}:
                # a coarser-than-month bucket spans dropped AND surviving
                # months — month-scoped pruning would keep a fingerprint
                # that no longer matches the surviving slice. Stale
                # metadata is worse than none: drop the sidecar; the next
                # write_bucket_stats (or a scan-based refresh) rebuilds it.
                fs.delete(jvm.org.apache.hadoop.fs.Path(stats_path), True)
            else:
                kept = (
                    stats.filter(
                        ~F.date_format("bucket", bucket_fmt).isin(dropped)
                    ).localCheckpoint()  # materialize before the overwrite
                )
                kept.write.mode("overwrite").parquet(stats_path)
        except Exception:
            pass  # no sidecar — nothing to prune
    return sorted(dropped)


def _interleave_bits(a, b, bits: int):
    """Morton/Z value of two bucket ids: bit j of `a` lands at position 2j,
    bit j of `b` at 2j+1. Pure integer arithmetic — codegen-friendly."""
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j)
            + F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    return z


def quantile_bucket_sql(col_name: str, bounds: list[float]) -> str:
    """Quantile-bucket id as a BINARY-SEARCH CASE tree over the sorted
    boundary multiset: bucket = |{b in bounds : x >= b}| (upper bound;
    NULL x descends every comparison's ELSE to bucket 0). Previously an
    interpreted filter-HOF over a 2^bits literal array PER ROW per column
    (VERDICT r12 item 8); the CASE tree whole-stage-codegens to
    log2(|bounds|) short-circuited comparisons per row, value-identical
    (pinned by tests/test_zorder.py::test_case_tree_bucket_matches_hof_count).
    Boundary literals go through CAST('<repr>' AS DOUBLE): repr is the
    shortest round-trip form, so the parsed double is bit-identical (a
    bare SQL decimal literal would parse as DECIMAL and change the
    comparison's type promotion). Non-finite boundaries (a column holding
    ±inf) render as 'inf'/'-inf', which the ANSI cast accepts (pinned by
    tests/test_zorder.py::test_zorder_write_keeps_rows_with_non_finite_values)."""
    srt = sorted(float(x) for x in bounds)

    def go(lo: int, hi: int) -> str:
        if lo == hi:
            return f"CAST({lo} AS BIGINT)"
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {col_name} >= CAST('{srt[mid]!r}' AS DOUBLE) "
            f"THEN {go(mid + 1, hi)} ELSE {go(lo, mid)} END"
        )

    return go(0, len(srt))


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) data layout on two range-queried columns —
    the Delta OPTIMIZE ZORDER shape re-built on plain parquet. Rows close
    in BOTH dimensions land in the same files, so parquet min/max stats
    skip files for two-dimensional range predicates (time x value,
    lon x lat) where a single-column sort only helps its leading column.

    Scale posture: per-column bucket boundaries come from
    ``approxQuantile`` (one sampling pass, boundaries collected to the
    driver — 2^bits scalars, not data); each row then maps to its bucket
    via a codegen binary-search CASE tree over the boundary literals
    (map-side, no shuffle — :func:`quantile_bucket_sql`), and the single
    range-partition + in-partition sort on the
    z-value is the one exchange a layout rewrite inherently needs. NULLs
    sort to bucket 0. The z-value is layout metadata only — it is not
    written into the files, so readers see the exact input schema.
    """
    ca, cb = cols
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # timestamps/ints z-order by their double image (epoch seconds for
    # timestamps); the cast column exists only for the stats pass
    nums = df.select(
        F.col(ca).cast("double").alias("__a"), F.col(cb).cast("double").alias("__b")
    )
    # one sampling job for both columns (two single-column calls would scan
    # the input twice just for the stats pass)
    bounds_a, bounds_b = nums.stat.approxQuantile(["__a", "__b"], qs, 0.01)

    # bucket ids materialize in their OWN projection: the Morton
    # interleave references each id `bits` times, and CollapseProject
    # declines to inline a non-cheap expression referenced more than once
    # — the CASE tree is evaluated exactly once per row per column
    num_cols = df.select(
        "*",
        F.col(ca).cast("double").alias("__za"),
        F.col(cb).cast("double").alias("__zb"),
    )
    bucketed = num_cols.select(
        "*",
        F.expr(quantile_bucket_sql("__za", bounds_a)).alias("__ba"),
        F.expr(quantile_bucket_sql("__zb", bounds_b)).alias("__bb"),
    )
    out = bucketed.withColumn(
        "__z", _interleave_bits(F.col("__ba"), F.col("__bb"), bits)
    ).drop("__za", "__zb", "__ba", "__bb")
    n = n_files or max(2, df.sparkSession.sparkContext.defaultParallelism)
    (
        out.repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    pk: tuple[str, ...] = ("time", "entity_id"),
    time_col: str = "time",
    bucket_fmt: str = "yyyy-MM",
    tie_breaker: str | None = "event_id",
    stats_unit: str | None = None,
    stats_sig_cols: list[str] | None = None,
) -> list[str]:
    """PK upsert into a month-partitioned table — the reference's
    ``ON CONFLICT (time, entity_id) DO UPDATE`` write semantic
    (PK models.py:31-32) on immutable parquet:

    - only the month partitions the updates TOUCH are read back and
      rewritten (dynamic partition overwrite) — the untouched history is
      never scanned, the chunk-local rewrite a hypertable upsert does;
    - within a touched month, the NEWEST row per PK wins: ``tie_breaker``
      DESC first (a late replay of an older event can never regress a PK
      — ADVICE r3), updates beating existing rows only at equal
      tie-breaker (the plain DO-UPDATE semantic, and the whole rule when
      ``tie_breaker`` is None) via one per-PK window over existing ∪
      updates — no row-at-a-time conflict handling.

    Returns the rewritten month keys. At 100 TB: cost ∝ updated months'
    data; the merge is one shuffle on the PK, co-located with the month
    partitioning.
    """
    upd = updates.withColumn("month", F.date_format(F.col(time_col), bucket_fmt))
    # lazy checkpoint (r12): the update frame is consumed twice — the
    # touched-month collect and the PK merge — and its lineage is the
    # caller's delta (recomputed per consumption otherwise, e.g. a
    # foreachBatch source re-read). The collect materializes the blocks
    # once; the merge reuses them. Block footprint is the delta.
    upd = upd.localCheckpoint(eager=False)
    months = [r["month"] for r in upd.select("month").distinct().collect()]
    if not months:
        return []
    # explicit existence check (Hadoop FS, so s3/hdfs paths work too):
    # ONLY a missing target takes the first-write branch. A broad
    # try/except here would turn a transient read error or one corrupt
    # footer into "table is empty" — and the dynamic overwrite below would
    # then silently replace every touched month with just the update rows.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        existing = (
            spark.read.parquet(path)
            .filter(F.col("month").isin(months))
            .withColumn("__src", F.lit(0))
        )
    else:
        # first write: upsert degrades to a plain insert (the streaming
        # sink's first micro-batch takes this path)
        existing = upd.withColumn("__src", F.lit(0)).limit(0)
    merged = existing.unionByName(upd.withColumn("__src", F.lit(1)))
    # tie_breaker FIRST, then __src (ADVICE r3): the newest row by the
    # caller's monotonic column must win regardless of which batch carried
    # it — a late/out-of-order micro-batch replaying an OLD event must not
    # regress a PK that already holds a newer row. __src remains the final
    # tie-break so an update with an EQUAL tie_breaker value still replaces
    # the existing row (the reference's DO UPDATE overwrites on conflict).
    # Without a tie_breaker there is no recency signal and updates win
    # outright — the plain ON CONFLICT semantic.
    order = (
        [F.col(tie_breaker).desc(), F.col("__src").desc()]
        if tie_breaker
        else [F.col("__src").desc()]
    )
    w = Window.partitionBy(*pk).orderBy(*order)
    resolved = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    # same layout rule as write_partitioned: entity-sorted when the
    # column exists, plain otherwise (the pk is parameterized — don't
    # assume the ltss schema)
    # same rebalance-by-month rule as write_partitioned: the merged
    # frame leaves the PK window partitioned by hash(pk), so an
    # unhinted write fans every task across every touched month
    resolved = resolved.hint("rebalance", "month")
    out = (
        resolved.sortWithinPartitions("entity_id", time_col)
        if "entity_id" in resolved.columns
        else resolved
    )
    # per-write dynamic overwrite: only the touched months are replaced,
    # and the session's partitionOverwriteMode is never changed
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "month"
    ).parquet(path)
    if stats_unit is not None:
        # incremental sidecar maintenance: fingerprints recomputed only for
        # the touched months (a column-pruned, partition-pruned re-read of
        # what was just written), untouched months' rows carried over —
        # cost stays proportional to the updated slice, like the rewrite
        write_bucket_stats(
            spark,
            path,
            time_col=time_col,
            unit=stats_unit,
            sig_cols=stats_sig_cols,
            months=sorted(months),
            bucket_fmt=bucket_fmt,
        )
    return sorted(months)
