"""Oracle-parity checker — a local mirror of the driver's correctness gate
(row-count + column names + order-insensitive values vs DuckDB on the same
parquet, see the ``__spark_entry__.py`` docstring).

Used by tests/test_oracle_parity.py and scripts. The parity gate is
tier-1 ``test_oracle_parity`` plus ``make parity``
(``scripts/check_parity.py``), both over every registry entry at sf0.001.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ltss_spark.sources.batch import TABLES


def duck_run(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (list, np.ndarray))
        ).any():
            # array-typed columns: tuples are hashable/comparable/sortable
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            vals = df[c]
            if getattr(vals.dtype, "tz", None) is not None:
                vals = vals.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = vals.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first").reset_index(
            drop=True
        )
    return df


def compare(spark_df, oracle: str, sf_dir: str) -> tuple[bool, str]:
    """Returns (ok, diagnostic). Mirrors the driver: column-name set,
    row count, then exact value equality on name-sorted/row-sorted frames."""
    got = spark_df.toPandas()
    want = duck_run(oracle, sf_dir)
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns differ: spark={sorted(got.columns)} duck={sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"row count differs: spark={len(got)} duck={len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv):
            both_nan = gv.isna() & wv.isna()
            eq = (gv == wv) | both_nan
        else:
            eq = (gv == wv) | (gv.isna() & wv.isna())
        if not bool(eq.all()):
            bad = np.where(~eq.to_numpy())[0][:5]
            detail = "; ".join(
                f"row{r}: spark={gv.iloc[r]!r} duck={wv.iloc[r]!r}" for r in bad
            )
            return False, f"values differ in column {c!r}: {detail}"
    return True, f"ok ({len(got)} rows)"
