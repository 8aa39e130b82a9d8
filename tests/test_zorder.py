"""Z-order layout: round-trip fidelity + the actual point — min/max file
skipping on BOTH dimensions of a 2-D range predicate, which no
single-column sort provides."""

import glob
import os
import tempfile
import uuid

import duckdb
import pyspark.sql.functions as F

from ltss_spark.sources.batch import load_table, zorder_write

SF = "/root/testdata/sf0.001"


def _file_boxes(path):
    """Per part-file (min,max) of ts-as-epoch and value."""
    boxes = []
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        r = con.sql(
            f"SELECT epoch(min(ts)), epoch(max(ts)), min(value), max(value) "
            f"FROM '{f}'"
        ).fetchone()
        boxes.append(r)
    return boxes


def _touched(boxes, ts_rng=None, v_rng=None):
    n = 0
    for t0, t1, v0, v1 in boxes:
        ok = True
        if ts_rng is not None:
            ok = ok and not (t1 < ts_rng[0] or t0 > ts_rng[1])
        if v_rng is not None:
            ok = ok and not (v1 < v_rng[0] or v0 > v_rng[1])
        n += ok
    return n


def test_zorder_roundtrip_and_two_dim_skipping(spark):
    e = load_table(spark, SF, "events").select("event_id", "ts", "value")
    zdir = f"{tempfile.gettempdir()}/zorder_{uuid.uuid4().hex}"
    sdir = f"{tempfile.gettempdir()}/tsorted_{uuid.uuid4().hex}"
    zorder_write(e, zdir, cols=("ts", "value"), bits=8, n_files=8)
    # the single-column alternative: range-partitioned + sorted on ts only
    e.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(sdir)

    back = spark.read.parquet(zdir)
    assert back.count() == e.count()
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in e.collect()
    )

    zb, sb = _file_boxes(zdir), _file_boxes(sdir)
    assert len(zb) == 8 and len(sb) == 8

    t0, t1, v0, v1 = duckdb.sql(
        f"SELECT epoch(min(ts)), epoch(max(ts)), min(value), max(value) "
        f"FROM '{SF}/events.parquet'"
    ).fetchone()
    # first decile of ts (a mid-range predicate straddles the top Morton
    # split and is the curve's worst case), middle decile of value
    ts_rng = (t0, t0 + 0.1 * (t1 - t0))
    v_rng = (v0 + 0.45 * (v1 - v0), v0 + 0.55 * (v1 - v0))

    # a value-only predicate must skip z-ordered files; the ts-sorted layout
    # spreads every value range across ALL its files
    assert _touched(zb, v_rng=v_rng) < len(zb)
    assert _touched(sb, v_rng=v_rng) == len(sb)
    # and the z-layout still skips on ts too: locality on BOTH dims
    assert _touched(zb, ts_rng=ts_rng) < len(zb)


def test_retention_drops_partition_dirs(spark):
    """drop_partitions must remove expired month directories through the
    Hadoop FS API (metadata-only), leave surviving partitions
    byte-identical, prune the fingerprint sidecar's dropped months, and
    report the dropped keys."""
    import datetime as dt

    from ltss_spark.sources.batch import (
        drop_partitions,
        read_bucket_stats,
        write_partitioned,
    )

    ym = [(2023, 11), (2023, 12), (2024, 1)]
    rows = [
        (i, dt.datetime(*ym[i % 3], 5, 12, 0, i), float(i)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = f"{tempfile.gettempdir()}/retain_{uuid.uuid4().hex}"
    write_partitioned(
        df, out, time_col="ts", stats_unit="day", stats_sig_cols=["event_id"]
    )
    assert sorted(
        d for d in os.listdir(out) if d.startswith("month=")
    ) == ["month=2023-11", "month=2023-12", "month=2024-01"]
    n_stats = read_bucket_stats(spark, out).count()
    assert n_stats == 3  # one day per month in this fixture

    assert drop_partitions(spark, out, before="2024-01") == [
        "2023-11", "2023-12"
    ]
    back = spark.read.parquet(out)
    assert sorted(d for d in os.listdir(out) if d.startswith("month=")) == [
        "month=2024-01"
    ]
    kept = sorted(r["event_id"] for r in back.collect())
    assert kept == sorted(i for i in range(30) if i % 3 == 2)
    # sidecar pruned with the partitions: only 2024-01's day remains
    months = {
        r["m"]
        for r in read_bucket_stats(spark, out)
        .select(F.date_format("bucket", "yyyy-MM").alias("m"))
        .collect()
    }
    assert months == {"2024-01"}
    # idempotent: nothing left to drop
    assert drop_partitions(spark, out, before="2024-01") == []


def test_coarse_unit_stats_guards(spark):
    """Year-granular stats buckets span month partitions, so (a) a
    month-scoped upsert must recompute the WHOLE sidecar (a touched-month
    slice would fingerprint a partial year), and (b) retention must drop
    the sidecar rather than month-prune it (stale metadata is worse than
    none)."""
    import datetime as dt

    from ltss_spark.sources.batch import (
        drop_partitions,
        read_bucket_stats,
        upsert_partitioned,
        write_partitioned,
    )

    rows = [
        (1, dt.datetime(2023, 11, 5), 1.0),
        (2, dt.datetime(2024, 1, 5), 2.0),
        (3, dt.datetime(2024, 2, 5), 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = f"{tempfile.gettempdir()}/coarse_{uuid.uuid4().hex}"
    write_partitioned(df, out, time_col="ts", stats_unit="year",
                      stats_sig_cols=["event_id", "value"])
    s0 = {str(r["bucket"]): r["src_rows"] for r in read_bucket_stats(spark, out).collect()}
    assert s0 == {"2023-01-01 00:00:00": 1, "2024-01-01 00:00:00": 2}

    # upsert touches only 2024-02, but the 2024 fingerprint must still
    # cover the WHOLE year (3 rows -> edit keeps 3; sig changes)
    upd = spark.createDataFrame(
        [(3, dt.datetime(2024, 2, 5), 99.0)], "event_id long, ts timestamp, value double"
    )
    upsert_partitioned(spark, out, upd, pk=("event_id",), time_col="ts",
                       tie_breaker=None, stats_unit="year",
                       stats_sig_cols=["event_id", "value"])
    s1 = {str(r["bucket"]): r["src_rows"] for r in read_bucket_stats(spark, out).collect()}
    assert s1 == {"2023-01-01 00:00:00": 1, "2024-01-01 00:00:00": 2}

    # retention drops 2023-11; the year-granular sidecar must vanish
    assert drop_partitions(spark, out, before="2024-01") == ["2023-11"]
    import pytest

    with pytest.raises(Exception):
        read_bucket_stats(spark, out).collect()


def test_case_tree_bucket_matches_hof_count(spark):
    """r13: the binary-search CASE tree replacing the interpreted
    filter-HOF must produce the identical bucket id for every input —
    including NULLs (bucket 0), values below/above all boundaries, exact
    boundary hits, and DUPLICATE boundaries (upper-bound semantics)."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(7)
    bounds = sorted(round(rng.uniform(-5, 5), 3) for _ in range(31))
    bounds[10] = bounds[9]  # duplicate boundary
    bounds[11] = bounds[9]
    vals = (
        [None, -1e18, 1e18]
        + bounds  # exact hits
        + [round(rng.uniform(-6, 6), 4) for _ in range(200)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double")

    def go(lo, hi):
        if lo == hi:
            return f"CAST({lo} AS BIGINT)"
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN x >= CAST('{bounds[mid]!r}' AS DOUBLE) "
            f"THEN {go(mid + 1, hi)} ELSE {go(lo, mid)} END"
        )

    arr = F.array(*[F.lit(float(b)) for b in bounds])
    hof = F.size(F.filter(arr, lambda b: F.col("x") >= b)).cast("long")
    got = df.select(
        F.expr(go(0, len(bounds))).alias("tree"), hof.alias("hof")
    ).collect()
    for r in got:
        assert r["tree"] == r["hof"], (r["tree"], r["hof"])


def test_zorder_plan_has_no_interpreted_hof(spark):
    """r13 (VERDICT item 8): the z-ordered bucket mapping must plan as a
    codegen CASE tree — no interpreted array-lambda HOF anywhere in the
    physical plan of the bucket projection."""
    import io
    import contextlib

    import pyspark.sql.functions as F

    from ltss_spark.sources.batch import quantile_bucket_sql

    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    bounds = df.stat.approxQuantile(["x"], [0.25, 0.5, 0.75], 0.01)[0]
    proj = df.select(F.expr(quantile_bucket_sql("x", bounds)).alias("b"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        proj.explain("formatted")
    plan = buf.getvalue()
    assert "lambdafunction" not in plan and "ArrayFilter" not in plan, plan
    assert "CASE WHEN" in plan


def test_zorder_write_keeps_rows_with_non_finite_values(spark):
    """A z-ordered column holding ±inf and NaN yields non-finite quantile
    boundaries (approxQuantile skips NaN, so they are ±inf). Their repr
    ('inf'/'-inf') goes through quantile_bucket_sql's string cast, which
    must accept it under ANSI; the written table holds exactly the input
    rows, NULL included."""
    inf, nan = float("inf"), float("nan")
    vals = [inf] * 40 + [-inf] * 40 + [nan] * 40 + [float(i) for i in range(40)]
    rows = [(i, v, float(i % 7)) for i, v in enumerate(vals)] + [(len(vals), None, 1.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = f"{tempfile.gettempdir()}/zorder_nonfinite_{uuid.uuid4().hex}"
    zorder_write(df, out, cols=("x", "y"), bits=3, n_files=4)

    def key(r):
        x = r["x"]
        return (r["id"], "nan" if x is not None and x != x else x, r["y"])

    back = spark.read.parquet(out).collect()
    assert sorted(map(key, back)) == sorted(map(key, df.collect()))
