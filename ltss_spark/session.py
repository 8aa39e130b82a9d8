"""SparkSession construction with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster (AQE on, skew-join handling on, shuffle
partitions sized explicitly). Session timezone is pinned to UTC because the
reference stores `TIMESTAMP WITH TIME ZONE` normalized to UTC
(/root/reference/custom_components/ltss/models.py:31) and the DuckDB oracle
compares UTC-naive values.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ltss-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE enabled: runtime shuffle-partition coalescing, join-strategy
      switching, and skew-join splitting — our substitute for hand-tuning
      per-query parallelism at 100 TB.
    - shuffle partitions default to the core count locally; on a real
      cluster this should be ~2-3x total cores (set via spark-submit).
    - Arrow enabled for the few Pandas-UDF operators (multimodal stubs).
    """
    # State API v2 runtime (protobuf) must be on PYTHONPATH BEFORE the JVM
    # launches — local-mode Python workers inherit the JVM's env, which is
    # captured at launch (streaming/stateful.enable_state_api_v2_runtime)
    from ltss_spark.streaming.stateful import enable_state_api_v2_runtime

    enable_state_api_v2_runtime()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long + convert (sources.batch)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_for_oracle(spark: SparkSession) -> None:
    """Runtime-settable knobs we must control even on a session we did not
    build (the driver passes its own session into ``queries()`` callables).

    UTC session timezone keeps timestamp values identical to the DuckDB
    oracle's UTC-naive timestamps; nanosAsLong lets us read the driver's
    nanosecond-precision events table (converted in sources.batch).

    Also pins the runtime-settable performance knobs: a foreign session may
    carry the 200-partition default (50x too many tasks for local data) and
    AQE off — both safely settable per-session at any time.

    Every registry entry calls this on build and each conf.set is a py4j
    round trip, so repeat pins are bench fixed cost. After the first full
    pin of a session, subsequent calls collapse to ONE round trip: read
    the session timezone — the canary that flags a foreign/mutated
    session — and skip the other six sets while it still reads UTC. A
    caller that mutates a non-TZ knob mid-session owns re-pinning it
    (no public op does: writers pass per-write options, and
    :func:`scoped_conf` restores every key it overrides); mutating the
    timezone re-triggers the full pin, which keeps the hostile-session
    contract (tests/test_plans.py::test_hostile_session_timezone_is_pinned).
    """
    key = spark.sparkContext.applicationId
    if key in _PINNED and spark.conf.get("spark.sql.session.timeZone") == "UTC":
        return
    _PINNED.add(key)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Arrow createDataFrame: the adaptive driver-replay paths (localrel)
    # depend on it to plan driver rows as a LocalTableScan; without it
    # they fall back to a pickled-RDD scan that respawns Python workers
    # on every downstream action (~0.3 s/action at local[32], r12)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


#: applicationIds already pinned — see pin_session_for_oracle docstring
_PINNED: set[str] = set()


#: serializes every scoped_conf override, so two overrides never interleave
#: their set/restore and one never restores a value another one set
_CONF_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict):
    """The one sanctioned override of the shared session conf: set
    ``overrides`` (values rendered with ``str``; a ``None`` value leaves
    its key alone), run the block, restore every key to its previous value
    or unset it.

    Hold it only around a step that FREEZES the conf it reads: a
    ``freeze_plan`` (the optimizer reads its thresholds once per plan) or
    a streaming query's ``.start()`` (the query clones the session there,
    and its state-store partition count and provider are fixed by that
    clone for the checkpoint's lifetime — foreachBatch bodies plan on
    ``batch.sparkSession``, the clone). Never hold it across
    ``awaitTermination``: other threads of the session plan against the
    live conf meanwhile."""
    overrides = {k: str(v) for k, v in overrides.items() if v is not None}
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
