"""Query registry — the driver contract (SURVEY.md §2.C build contract).

One entry per implemented operator: a Spark DataFrame program plus (where
SQL-expressible) the equivalent DuckDB oracle SQL over the same parquet
tables. The driver hash-compares row counts, schemas, and order-insensitive
value hashes, so every entry follows the determinism rules:

- identical column names on both sides (everything aliased);
- double *aggregates* via exact DECIMAL sums cast back to double
  (ltss_spark.functions.numeric) — fp addition is order-sensitive and the
  two engines aggregate in different orders;
- transcendental outputs rounded (libm vs JVM last-ulp differences);
- every top-k ordered by a unique key (ties broken explicitly);
- only md5 as a cross-engine hash (bit-identical everywhere);
- integer aggregates: CAST(... AS BIGINT) in the oracle — DuckDB promotes
  SUM over integers to HUGEINT, which pandas renders float64 while Spark
  returns bigint, so the driver's value hash sees `123.0` vs `123` (the
  r4 sql_q12 / ext_dedup_spans reds). Nullable integer columns from outer
  joins / lag-lead carry the same hazard once the fixture stops producing
  NULLs; pin BOTH sides (Spark .cast("long"), oracle CAST AS BIGINT) when
  in doubt. tests/test_oracle_parity.py::test_dtype_parity enforces this
  registry-wide.

Per-row IEEE arithmetic (x*y, x-y, x/y) is bit-deterministic across engines
and is NOT rounded.

Fine print on round(double, n) itself (r8 finding, via the CUSUM
property test): Spark rounds the double's SHORTEST DECIMAL REPR
(BigDecimal.valueOf = Double.toString) HALF_UP, so a double sitting just
below a tie whose repr IS the tie string (e.g. 0.333333/2 -> repr
'0.1666665') rounds UP in Spark while an exact-binary HALF_UP would
round down. On the fixtures' 2-decimal value domain the engines agree
(hash-green at all three SFs); operators that must be robust to
adversarial doubles use MICRO-UNIT LONG scaling (round(x*1e6, 0) —
integer ties are binary-exact, both engines round away from zero), the
ts_ewma/cusum form.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ltss_spark.functions.numeric import dsum, oracle_dsum
from ltss_spark.session import pin_session_for_oracle
from ltss_spark.sources.batch import load_table

Build = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Q:
    """A registered operator: Spark program + DuckDB oracle + SURVEY §2.C tag."""

    name: str
    build: Build
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    survey: str = ""    # op-ids from SURVEY.md §2.C this entry evidences


REGISTRY: list[Q] = []


def register(name: str, oracle: str | None, survey: str = ""):
    def deco(fn: Build) -> Build:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session_for_oracle(spark)
            return fn(spark, sf_dir)

        REGISTRY.append(Q(name, wrapped, oracle, survey))
        return wrapped

    return deco


def queries() -> dict[str, Build]:
    """Every entry in registration order (the import order of
    ``ltss_spark.plans``); ``oracle_sql()`` keeps the same order."""
    return {q.name: q.build for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY if q.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: (session wrapper id, view name) -> the exact DataFrame handle last
#: registered under that name. Registering a temp view is a catalog RPC per
#: call; the SQL-text entries re-register the same tables on every
#: invocation, which at bench cadence (21 queries x 2 runs) is pure fixed
#: cost. Holding the handle itself (not an id()) makes the check an `is`
#: comparison AND keeps the frame alive, so a fixture rewrite or sf_dir
#: switch — which gives load_table a different handle (its cache keys on
#: path+mtime+size) — re-registers, while a repeat call skips the RPC.
#: Keyed on the session OBJECT because temp views live in the SESSION
#: catalog: a different session wrapper (even over the same JVM app)
#: conservatively re-registers rather than assuming the view exists there.
#: The strong ref also rules out id-reuse false hits.
_VIEWS: dict[tuple[SparkSession, str], DataFrame] = {}


def register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        df = load_table(spark, sf_dir, t)
        key = (spark, t)
        if _VIEWS.get(key) is not df:
            df.createOrReplaceTempView(t)
            _VIEWS[key] = df
    if len(_VIEWS) > 1024:  # bound: dead sessions' keys
        _VIEWS.clear()


# =========================================================================
# Scans / projections / filters (SURVEY §2.C scan_parquet, project,
# filter_basic/_null/_in/_like/_entity)
# =========================================================================

@register(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    """,
    survey="scan_parquet",
)
def scan_parquet(spark, sf_dir):
    """Pruned-and-pushed parquet scan: only 4 columns read, the time
    predicate reaches the scan (check ReadSchema/PushedFilters in explain)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "project",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           c_acctbal * 1.1 AS bal_up,
           lower(c_mktsegment) AS seg
    FROM customer
    """,
    survey="project fn_string",
)
def project(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        (F.col("c_acctbal") * 1.1).alias("bal_up"),
        F.lower("c_mktsegment").alias("seg"),
    )


@register(
    "filter_basic",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount <= 0.02 AND l_returnflag <> 'A'
    """,
    survey="filter_basic",
)
def filter_basic(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") > 45)
            & (F.col("l_discount") <= 0.02)
            & (F.col("l_returnflag") != "A")
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


@register(
    "filter_null",
    """
    SELECT event_id, event_type
    FROM events
    WHERE props IS NOT NULL
      AND value IS NOT NULL
      AND (user_id IS NOT DISTINCT FROM 12 OR user_id > 5)
    """,
    survey="filter_null",
)
def filter_null(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.filter(
        F.col("props").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("user_id").eqNullSafe(12) | (F.col("user_id") > 5))
    ).select("event_id", "event_type")


@register(
    "filter_in",
    """
    SELECT o_orderkey, o_orderpriority, o_orderstatus
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus IN ('O', 'F')
    """,
    survey="filter_in",
)
def filter_in(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_orderstatus").isin("O", "F")
        )
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
    )


@register(
    "filter_like",
    r"""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%widget%' OR regexp_matches(p_brand, '^Brand#1[0-9]$')
    """,
    survey="filter_like",
)
def filter_like(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_name").like("%widget%")
            | F.col("p_brand").rlike("^Brand#1[0-9]$")
        )
        .select("p_partkey", "p_name", "p_brand")
    )


@register(
    "filter_entity",
    r"""
    WITH e AS (
      SELECT event_id,
             event_type || '.u' || CAST(user_id AS VARCHAR) AS entity_id,
             event_type AS domain
      FROM events
    )
    SELECT event_id, entity_id
    FROM e
    WHERE (domain IN ('purchase', 'signup')
           OR regexp_matches(entity_id, '^error\.u1.*$'))
      AND entity_id NOT IN ('purchase.u3', 'signup.u7')
    """,
    survey="filter_entity filter_like A3",
)
def filter_entity(spark, sf_dir):
    """HA include/exclude filter semantics (reference __init__.py:55-67,254;
    README.md:71-101) compiled to one boolean column."""
    from ltss_spark.ingest import EntityFilter

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(F.col("event_type"), F.lit(".u"), F.col("user_id")).alias("entity_id"),
    )
    flt = EntityFilter(
        include_domains=("purchase", "signup"),
        include_globs=("error.u1*",),
        exclude_entities=("purchase.u3", "signup.u7"),
    )
    return e.filter(flt.expr("entity_id")).select("event_id", "entity_id")


# =========================================================================
# Joins (SURVEY §2.C join_*)
# =========================================================================

@register(
    "join_inner",
    f"""
    SELECT o_orderpriority, l_returnflag,
           COUNT(*) AS n_rows,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority, l_returnflag
    """,
    survey="join_inner agg_basic",
)
def join_inner(spark, sf_dir):
    l, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        )
    )


@register(
    "join_left",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity
    FROM orders o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48) l
      ON o.o_orderkey = l.l_orderkey
    """,
    survey="join_left",
)
def join_left(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity",
    )


@register(
    "join_right",
    """
    SELECT c_custkey, c_name, CAST(o.o_orderkey AS BIGINT) AS o_orderkey
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer ON o.o_custkey = c_custkey
    """,
    survey="join_right",
)
def join_right(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey",
        "c_name",
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
    )


@register(
    "join_full",
    f"""
    WITH ch AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
      FROM customer WHERE c_acctbal > 8000 GROUP BY 1
    ),
    sh AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
      FROM supplier WHERE s_acctbal > 8000 GROUP BY 1
    )
    SELECT COALESCE(ch.nationkey, sh.nationkey) AS nationkey,
           CAST(n_cust AS BIGINT) AS n_cust, CAST(n_supp AS BIGINT) AS n_supp
    FROM ch FULL OUTER JOIN sh ON ch.nationkey = sh.nationkey
    """,
    survey="join_full",
)
def join_full(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nationkey", "full").select(
        F.coalesce(c["nationkey"], s["nationkey"]).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
    survey="join_semi",
)
def join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
    survey="join_anti",
)
def join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast",
    f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_cust,
           {oracle_dsum('c_acctbal', 2)} AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    survey="join_broadcast join_inner agg_basic",
)
def join_broadcast(spark, sf_dir):
    """Star join with explicit broadcast of the dimension tables — the only
    sane physical plan when the fact side is 100 TB: zero shuffle of the
    fact table, dims replicated to every executor."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal", 2).alias("total_bal"),
        )
    )


@register(
    "join_theta",
    """
    SELECT n_name, COUNT(*) AS n_pairs
    FROM supplier s
    JOIN customer c ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal
    JOIN nation ON s.s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    survey="join_theta",
)
def join_theta(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_range",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_shipments,
           {oracle_dsum('l_extendedprice', 2)} AS shipped_value
    FROM orders
    JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
    survey="join_range",
)
def join_range(spark, sf_dir):
    """Interval join: equi key + time-range refinement. The equi component
    keeps it a hash/sort-merge join (NOT a nested loop); the range predicate
    is evaluated post-match. This is the scalable shape for time-window
    enrichment at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate >= o.o_orderdate)
            & (l.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            dsum("l_extendedprice", 2).alias("shipped_value"),
        )
    )
