"""CDC apply (operators/cdc.py): LWW merge with deletes, tombstone
durability under out-of-order replay, bucket-pruned rewrite, compaction."""

import os

import pyspark.sql.functions as F
import pytest

from ltss_spark.operators.cdc import (
    BUCKET_COL,
    TOMBSTONE_COL,
    cdc_apply,
    cdc_compact,
    cdc_read,
)
from ltss_spark.scratch import scratch_dir


def _ch(spark, rows):
    return spark.createDataFrame(rows, "k string, version long, v double, op string")


def _state(spark, path):
    return {
        r["k"]: (r["version"], r["v"])
        for r in cdc_read(spark, path).collect()
    }


def test_insert_update_delete(spark):
    path = scratch_dir("cdc_basic")
    cdc_apply(spark, path, _ch(spark, [("a", 1, 1.0, "I"), ("b", 1, 2.0, "I")]), ("k",))
    cdc_apply(spark, path, _ch(spark, [("a", 2, 9.0, "U"), ("b", 2, 0.0, "D")]), ("k",))
    assert _state(spark, path) == {"a": (2, 9.0)}


def test_intra_batch_lww(spark):
    # one batch carrying several versions of the same key: highest wins
    path = scratch_dir("cdc_intra")
    cdc_apply(
        spark,
        path,
        _ch(spark, [("a", 3, 3.0, "U"), ("a", 1, 1.0, "I"), ("a", 2, 2.0, "U")]),
        ("k",),
    )
    assert _state(spark, path) == {"a": (3, 3.0)}


def test_stale_update_cannot_resurrect_delete(spark):
    # delete at v5 lands first; a LATER batch replays a stale v3 update —
    # the tombstone must win the window and the key stay absent
    path = scratch_dir("cdc_tomb")
    cdc_apply(spark, path, _ch(spark, [("a", 5, 0.0, "D")]), ("k",))
    cdc_apply(spark, path, _ch(spark, [("a", 3, 3.0, "U")]), ("k",))
    assert _state(spark, path) == {}
    # ...but a genuinely newer re-insert resurrects it
    cdc_apply(spark, path, _ch(spark, [("a", 7, 7.0, "I")]), ("k",))
    assert _state(spark, path) == {"a": (7, 7.0)}


def test_replay_and_order_independence(spark):
    b1 = [("a", 1, 1.0, "I"), ("b", 1, 1.0, "I"), ("c", 1, 1.0, "I")]
    b2 = [("a", 2, 2.0, "U"), ("b", 2, 0.0, "D")]
    p_fwd, p_rev = scratch_dir("cdc_fwd"), scratch_dir("cdc_rev")
    for b in (b1, b2, b2, b1):  # forward order plus a full replay of each
        cdc_apply(spark, p_fwd, _ch(spark, b), ("k",))
    for b in (b2, b1):  # reversed arrival
        cdc_apply(spark, p_rev, _ch(spark, b), ("k",))
    expect = {"a": (2, 2.0), "c": (1, 1.0)}
    assert _state(spark, p_fwd) == expect
    assert _state(spark, p_rev) == expect


def test_bucket_pruning(spark):
    # a single-key batch must rewrite exactly one bucket, and the other
    # buckets' files must not be touched on disk
    path = scratch_dir("cdc_prune")
    seed = _ch(spark, [(f"k{i}", 1, float(i), "I") for i in range(200)])
    cdc_apply(spark, path, seed, ("k",), n_buckets=8)
    before = {
        d: os.stat(f"{path}/{d}").st_mtime_ns
        for d in os.listdir(path)
        if d.startswith(BUCKET_COL)
    }
    assert len(before) == 8
    touched = cdc_apply(
        spark, path, _ch(spark, [("k0", 2, 99.0, "U")]), ("k",), n_buckets=8
    )
    assert len(touched) == 1
    after = {
        d: os.stat(f"{path}/{d}").st_mtime_ns
        for d in os.listdir(path)
        if d.startswith(BUCKET_COL)
    }
    untouched = [d for d in before if d != f"{BUCKET_COL}={touched[0]}"]
    assert untouched and all(before[d] == after[d] for d in untouched)
    assert _state(spark, path)["k0"] == (2, 99.0)


def test_apply_never_reads_while_overwriting(spark):
    """Crash safety: the frame cdc_apply hands to the dynamic-partition
    overwrite must be MATERIALIZED (lineage cut) — its plan may not scan
    the target path it is about to delete partitions from, or a mid-commit
    failure leaves touched buckets half-replaced with their recompute
    input gone (VERDICT r6 item 5; same contract cdc_compact already
    keeps)."""
    from ltss_spark.operators.cdc import _resolve_survivors, _with_bucket

    path = scratch_dir("cdc_atomic")
    cdc_apply(spark, path, _ch(spark, [("a", 1, 1.0, "I"), ("b", 1, 2.0, "I")]), ("k",))
    ch = _with_bucket(
        _ch(spark, [("a", 2, 9.0, "U")]), ("k",), 32
    ).withColumn(TOMBSTONE_COL, F.col("op") == F.lit("D")).drop("op")
    buckets = sorted(r[BUCKET_COL] for r in ch.select(BUCKET_COL).distinct().collect())
    resolved = _resolve_survivors(spark, path, ch, buckets, ("k",), "version")
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert path not in plan, "write-side plan still scans the overwrite target"
    assert "FileScan" not in plan, "lineage not cut before the overwrite"
    # and the apply path end-to-end still converges
    cdc_apply(spark, path, _ch(spark, [("a", 2, 9.0, "U")]), ("k",))
    assert _state(spark, path) == {"a": (2, 9.0), "b": (1, 2.0)}


def test_compact_purges_only_past_horizon(spark):
    path = scratch_dir("cdc_compact")
    cdc_apply(
        spark,
        path,
        _ch(spark, [("a", 1, 0.0, "D"), ("b", 10, 0.0, "D"), ("c", 2, 2.0, "I")]),
        ("k",),
    )
    stored = spark.read.parquet(path)
    assert stored.filter(F.col(TOMBSTONE_COL)).count() == 2
    assert cdc_compact(spark, path, version_horizon=5) == 1  # only a's v1
    stored = spark.read.parquet(path)
    assert {r["k"] for r in stored.filter(F.col(TOMBSTONE_COL)).collect()} == {"b"}
    # logical table unchanged by compaction
    assert _state(spark, path) == {"c": (2, 2.0)}
    assert cdc_compact(spark, path, version_horizon=0) == 0  # nothing eligible


def test_compat_pk_composite(spark):
    path = scratch_dir("cdc_pk2")
    df = spark.createDataFrame(
        [("u1", "click", 1, 1.0, "I"), ("u1", "view", 2, 2.0, "I"),
         ("u1", "click", 3, 0.0, "D")],
        "user string, etype string, version long, v double, op string",
    )
    cdc_apply(spark, path, df, ("user", "etype"))
    rows = cdc_read(spark, path).collect()
    assert [(r["user"], r["etype"], r["version"]) for r in rows] == [
        ("u1", "view", 2)
    ]


def test_cdc_publish_roundtrip_derby(spark, tmp_path):
    """LIVE database publication of a CDC-maintained table (VERDICT r6
    item 10): apply real insert/update/delete batches, then push the
    logical table (cdc_read — tombstones resolved) through the SAME
    dialect-aware JDBC writer the streaming ingest uses
    (streaming/ingest._write_jdbc) into embedded Derby, and compare the
    read-back rows value-by-value. This exercises the pg-dialect writer
    seam against an actual database; only the URL differs from a
    Postgres deployment."""
    from ltss_spark.streaming.ingest import _write_jdbc

    path = scratch_dir("cdc_derby")
    cdc_apply(
        spark,
        path,
        _ch(spark, [("a", 1, 1.0, "I"), ("b", 1, 2.0, "I"), ("c", 1, 3.0, "I")]),
        ("k",),
    )
    cdc_apply(
        spark, path, _ch(spark, [("a", 2, 9.0, "U"), ("b", 2, 0.0, "D")]), ("k",)
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    table = cdc_read(spark, path)
    _write_jdbc(table, url, "cdc_dim", "overwrite", opts)
    back = spark.read.options(**opts).jdbc(url, "cdc_dim")
    got = {r["k"]: (r["version"], r["v"]) for r in back.collect()}
    assert got == {"a": (2, 9.0), "c": (1, 3.0)}
    # replayed publication (overwrite mode): idempotent, no duplication
    _write_jdbc(table, url, "cdc_dim", "overwrite", opts)
    assert spark.read.options(**opts).jdbc(url, "cdc_dim").count() == 2


def test_randomized_arrival_orders_converge(spark):
    """Model-based: 60 random changes (unique versions) over 8 keys,
    partitioned into micro-batches and delivered in three different
    random orders, with one batch replayed — every arrival schedule must
    converge to the same pure-LWW model state."""
    import random

    rng = random.Random(99)
    keys = [f"k{i}" for i in range(8)]
    changes = [
        (rng.choice(keys), v, float(v), "D" if rng.random() < 0.2 else "U")
        for v in range(1, 61)
    ]
    # the model: survivor per key by max version, deletes win as absence
    last = {}
    for k, v, val, op in changes:
        if k not in last or v > last[k][0]:
            last[k] = (v, val, op)
    expect = {k: (v, val) for k, (v, val, op) in last.items() if op != "D"}

    for seed in (1, 2, 3):
        r = random.Random(seed)
        shuffled = changes[:]
        r.shuffle(shuffled)
        batches = [shuffled[i::4] for i in range(4)]  # 4 interleaved batches
        r.shuffle(batches)
        batches.append(batches[r.randrange(4)])  # one full replay
        p = scratch_dir(f"cdc_rand_{seed}")
        for b in batches:
            cdc_apply(spark, p, _ch(spark, b), ("k",))
        assert _state(spark, p) == expect, f"schedule {seed} diverged"


def test_null_op_rows_are_kept_and_counted(spark):
    """ADVICE r12: a NULL op must normalize to tombstone=False — kept by
    cdc_read, kept by compaction, and never silently dropped from
    `remaining` without being counted as purged."""
    path = scratch_dir("cdc_null_op")
    cdc_apply(
        spark,
        path,
        _ch(spark, [("a", 1, 1.0, None), ("b", 2, 2.0, "D"), ("c", 3, 3.0, "U")]),
        ("k",),
    )
    # NULL-op row is a regular (non-tombstone) row
    assert _state(spark, path) == {"a": (1, 1.0), "c": (3, 3.0)}
    stored = spark.read.parquet(path)
    assert stored.filter(F.col(TOMBSTONE_COL).isNull()).count() == 0
    # compaction purges exactly the tombstone and keeps the NULL-op row
    assert cdc_compact(spark, path, version_horizon=10) == 1
    assert _state(spark, path) == {"a": (1, 1.0), "c": (3, 3.0)}


def test_apply_rejects_absurd_bucket_count(spark):
    """VERDICT r12 item 5: the touched/dirty-bucket collects are bounded
    by n_buckets — an absurd count must fail loudly at apply time."""
    path = scratch_dir("cdc_guard")
    with pytest.raises(ValueError, match="n_buckets"):
        cdc_apply(
            spark,
            path,
            _ch(spark, [("a", 1, 1.0, "U")]),
            ("k",),
            n_buckets=2_000_000,
        )


def test_compact_honours_version_col(spark):
    """A table applied with a non-default version column compacts by that
    column, not by a column named ``version``."""
    path = scratch_dir("cdc_lsn")
    df = spark.createDataFrame(
        [("a", 1, 0.0, "D"), ("b", 10, 0.0, "D"), ("c", 2, 2.0, "I")],
        "k string, lsn long, v double, op string",
    )
    cdc_apply(spark, path, df, ("k",), version_col="lsn")
    assert cdc_compact(spark, path, version_horizon=5, version_col="lsn") == 1
    stored = spark.read.parquet(path)
    assert {r["k"] for r in stored.filter(F.col(TOMBSTONE_COL)).collect()} == {"b"}
    assert {r["k"] for r in cdc_read(spark, path).collect()} == {"c"}


def test_upsert_and_cdc_apply_share_the_survivor_rule(spark):
    """Differential: the same random batch sequence applied as a
    month-partitioned PK upsert (tie_breaker="v") and as an insert-only
    CDC feed (version_col="v") must leave the same rows — including
    replays at an EQUAL version, where the later batch wins in both."""
    import datetime as dt
    import random

    from ltss_spark.sources.batch import upsert_partitioned

    rng = random.Random(11)
    times = [dt.datetime(2024, m, d, 12) for m in (1, 2, 3) for d in (3, 17)]
    entities = [f"sensor.s{i}" for i in range(4)]
    batches, payload = [], 0
    for _ in range(5):
        rows = {}
        for _ in range(10):
            payload += 1
            key = (rng.choice(times), rng.choice(entities), rng.randint(1, 3))
            rows.setdefault(key, float(payload))  # unique (pk, v) per batch
        batches.append([(t, e, v, val) for (t, e, v), val in rows.items()])
    # equal-version replays: earlier batches' keys and versions again,
    # with new payloads
    for b in (batches[1], batches[3]):
        replay = []
        for t, e, v, _ in b:
            payload += 1
            replay.append((t, e, v, float(payload)))
        batches.append(replay)

    schema = "time timestamp, entity_id string, v long, val double"
    up, cd = scratch_dir("diff_upsert"), scratch_dir("diff_cdc")
    model = {}
    for b in batches:
        df = spark.createDataFrame(b, schema)
        upsert_partitioned(spark, up, df, tie_breaker="v")
        cdc_apply(spark, cd, df.withColumn("op", F.lit("I")), ("time", "entity_id"),
                  version_col="v")
        newest = {}
        for t, e, v, val in b:
            if (t, e) not in newest or v > newest[(t, e)][0]:
                newest[(t, e)] = (v, val)
        for pk, (v, val) in newest.items():
            if pk not in model or v >= model[pk][0]:
                model[pk] = (v, val)

    def rows(df):
        return sorted(tuple(r) for r in df.select("entity_id", "v", "val").collect())

    got_upsert = rows(spark.read.parquet(up))
    assert got_upsert == rows(cdc_read(spark, cd))
    assert got_upsert == sorted((e, v, val) for (_, e), (v, val) in model.items())
