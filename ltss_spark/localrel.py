"""Driver-rows -> DataFrame as a pure-JVM LocalTableScan.

``spark.createDataFrame(list_of_rows)`` plans as ``Scan ExistingRDD`` over
a pickled Python RDD: EVERY downstream action re-spawns Python workers to
unpickle the rows (~0.3 s per action at local[32], measured r12 — the
cagg schema-sidecar comment records the same cost independently). Routing
the same rows through a pandas frame with Arrow enabled plans as
``LocalTableScan``: the data lives in the JVM, actions touch no Python
worker, and joins against it see a LocalRelation with real stats.

Used by every adaptive driver-replay path (union-find components,
pagerank/LPA/BFS replays, the BPE driver fold, logreg traces, the
distributed-rank offset frame) — the frames those paths return are then
consumed by ordinary cluster-side plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from driver-side ``rows`` (tuples or Rows) that
    plans as a LocalTableScan. ``schema`` is a StructType or DDL string.
    Values are carried through an object-dtype pandas frame so integers
    stay exact and None stays NULL; the Arrow conversion applies the
    explicit schema (verified value-identical to the list route, r12).
    Falls back to the classic list route only if Arrow conversion is
    unavailable (createDataFrame's own documented fallback)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    # the LocalTableScan plan depends on the Arrow conversion path, which
    # get_spark and pin_session_for_oracle enable; a host session that
    # keeps Arrow off gets createDataFrame's own fallback (the pickled-RDD
    # scan) — this function never changes the session's conf
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema)
