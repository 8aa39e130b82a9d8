"""Runtime Bloom-filter semi-join reduction — scan-side pruning for
shuffle joins whose small side is only known after a filter runs.

The 100 TB problem: a fact-to-dim shuffle join where the dim side is
filtered at runtime (``part WHERE p_size <= 3``) still shuffles EVERY
fact row, because static partition pruning cannot see which join keys
survive the dim filter. Catalyst's ``InjectRuntimeFilter`` rule closes
this: it plans a ``bloom_filter_agg`` over the filtered dim's join keys,
broadcasts the resulting filter as a scalar subquery, and injects
``might_contain(bloom, xxhash64(fact_key))`` as a predicate on the fact
side BELOW the shuffle — so ~all non-matching fact rows are dropped at
the scan instead of being shuffled and discarded by the join. This is
the declarative analogue of hand-building a key Bloom filter and
pushing it into the scan (Trino/Snowflake "dynamic filtering").

On a real cluster the rule self-arms: it fires whenever the creation
side is under ``spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold``
(10 MB) and the application side scans more than
``...applicationSideScanSizeThreshold`` (10 GB). Local fixtures never
reach 10 GB, so :func:`bloom_pruned_join` arms the rule explicitly for
the duration of PLAN OPTIMIZATION only — the thresholds are read by the
logical optimizer exactly once per query, when the plan is first
materialized, so forcing the ``DataFrame``'s query execution eagerly
inside ``session.scoped_conf`` freezes the injected filter into the plan
while leaving the session's thresholds untouched for everything else (no
lasting session-wide mutation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ltss_spark.session import scoped_conf


#: confs InjectRuntimeFilter consults at logical-optimization time.
_SCOPED = {
    # the rule itself (default true since 3.3, pinned for foreign sessions)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # local fixtures are far below the 10 GB production trigger; 0 arms
    # the rule at any scan size (the plan shape is what we are testing —
    # at 100 TB the default threshold fires by itself)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # the rule only injects for probable SHUFFLE joins (a broadcast join
    # already prunes at the probe side); the fixture dim would broadcast,
    # which at 100 TB it would not — pin the shuffle-join shape
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def freeze_plan(df: DataFrame) -> DataFrame:
    """Materialize the DataFrame's optimized + executed plan NOW, under the
    session confs currently in force. Spark's QueryExecution caches its
    plans in lazy vals, so later actions (collect/toPandas — including by
    a driver that runs after our scoped confs are restored) reuse exactly
    this plan."""
    df._jdf.queryExecution().executedPlan()
    return df


def with_runtime_bloom(df: DataFrame) -> DataFrame:
    """Arm ``InjectRuntimeFilter`` and freeze ``df``'s plan under it.

    MUST wrap the FINAL DataFrame of the query (the one whose action will
    run): each Dataset owns its own QueryExecution, so freezing an
    intermediate join and then stacking an aggregate on top would plan the
    aggregate later, outside the scope, without the filter. Join semantics
    are UNCHANGED (a Bloom filter admits no false negatives; false
    positives are removed by the join itself) — only the shuffled volume
    shrinks.

    The injected plan (pinned by tests/test_plans.py):

        Filter might_contain(scalar-subquery(bloom_filter_agg(dim_key)),
                             xxhash64(fact_key))   <- below fact's Exchange
    """
    with scoped_conf(df.sparkSession, _SCOPED):
        return freeze_plan(df)


def has_runtime_bloom(df: DataFrame) -> bool:
    """True when the executed plan carries an injected Bloom probe —
    the assertion hook for plan tests and the scale probe."""
    return "might_contain" in df._jdf.queryExecution().executedPlan().toString()
