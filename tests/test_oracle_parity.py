"""Every SQL-expressible registry entry must match its DuckDB oracle at
sf0.001 — tier-1 parity at sf0.001 is the correctness gate."""

import pytest

from tests.conftest import SF_SMOKE


def _registry():
    import ltss_spark.plans as plans

    return plans.REGISTRY


@pytest.mark.parametrize("q", _registry(), ids=lambda q: q.name)
def test_oracle_parity(spark, q):
    from ltss_spark.plans.parity import compare
    from ltss_spark.session import pin_session_for_oracle

    # session conf is read-only after the pin: no entry may leave a
    # changed setting behind for the next query of the session
    pin_session_for_oracle(spark)
    conf_before = spark.conf.getAll
    df = q.build(spark, SF_SMOKE)
    if q.oracle is None:
        # no oracle: the entry must at least build and run
        assert df.count() >= 0
    else:
        ok, msg = compare(df, q.oracle, SF_SMOKE)
        assert ok, f"{q.name}: {msg}"
    conf_after = spark.conf.getAll
    changed = {
        k: (conf_before.get(k), conf_after.get(k))
        for k in conf_before.keys() | conf_after.keys()
        if conf_before.get(k) != conf_after.get(k)
    }
    assert not changed, f"{q.name} changed session conf: {changed}"


# ---------------------------------------------------------------------------
# Dtype parity: Spark schema vs DuckDB *relation* types (not pandas dtypes,
# which depend on whether the fixture happens to produce NULLs). This is the
# registry-wide guard for the r4 driver reds: DuckDB promotes integer SUMs
# to HUGEINT, which pandas renders float64 while Spark returns bigint, so
# the driver's value hash diverges (`123.0` vs `123`) the moment a column
# has no NULLs. Rule (registry.py header): CAST integer aggregates to
# BIGINT in the oracle; pin nullable integer join/window outputs on BOTH
# sides.
# ---------------------------------------------------------------------------

def _canon_spark(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "i64"
    if isinstance(dt, T.IntegerType):
        return "i32"
    if isinstance(dt, T.ShortType):
        return "i16"
    if isinstance(dt, T.ByteType):
        return "i8"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return "array:" + _canon_spark(dt.elementType)
    return "other"


def _canon_duck(t: str) -> str:
    t = str(t).upper()
    if t.endswith("[]"):
        return "array:" + _canon_duck(t[:-2])
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"  # never acceptable — always a latent float64 skew
    if t in ("BIGINT", "UBIGINT"):
        return "i64"
    if t in ("INTEGER", "UINTEGER"):
        return "i32"
    if t in ("SMALLINT", "USMALLINT"):
        return "i16"
    if t in ("TINYINT", "UTINYINT"):
        return "i8"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    return "other"


def test_dtype_parity(spark):
    """Every oracle's DuckDB output types must canonically match the Spark
    schema — catching HUGEINT/width skews even while fixture NULLs mask
    them in pandas."""
    import duckdb

    import ltss_spark.plans as plans
    from ltss_spark.sources.batch import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    bad = []
    for q in plans.REGISTRY:
        if q.oracle is None:
            continue
        rel = con.sql(q.oracle)
        duck = dict(zip(rel.columns, [_canon_duck(t) for t in rel.types]))
        sch = {f.name: _canon_spark(f.dataType) for f in q.build(spark, SF_SMOKE).schema.fields}
        for col in sorted(sch):
            s, d = sch[col], duck.get(col)
            if d is None or s == d:
                continue
            bad.append(f"{q.name}.{col}: spark={s} duck={d}")
    assert not bad, "dtype skew (see registry.py determinism header):\n" + "\n".join(bad)
