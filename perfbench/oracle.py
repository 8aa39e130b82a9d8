"""Independent recomputation of the benchmark's expected outputs.

Nothing here imports ``ltss_spark``: the expected state table is rebuilt
from the generated event files with pyarrow and plain Python (validity
filter, entity filter, NUL sanitize, location extraction, watermark drop,
primary-key dedup), and dashboard query results are recomputed with DuckDB
over the same parquet the Spark queries read.
"""

from __future__ import annotations

import fnmatch
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen import canonical_attrs

STATE_COLUMNS = ["time", "entity_id", "state", "attributes", "loc_lon", "loc_lat"]


def _keep_entity(eid: str, spec: dict) -> bool:
    """Home Assistant include/exclude precedence for this spec's shape:
    include domains plus exclude globs/entities."""
    domain = eid.split(".", 1)[0]
    if domain not in spec["include_domains"]:
        return False
    if eid in spec["exclude_entities"]:
        return False
    return not any(fnmatch.fnmatchcase(eid, g) for g in spec["exclude_globs"])


def _coord(v) -> float | None:
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    try:
        f = float(v)
    except (TypeError, ValueError):
        return None
    return None if math.isnan(f) else f


def _project(t: pd.DataFrame) -> pd.DataFrame:
    """Validity filter already applied: sanitize states, extract and strip
    the location members."""
    state = t["state"].str.replace("\x00", "�", regex=False)
    lon = np.full(len(t), np.nan)
    lat = np.full(len(t), np.nan)
    attrs = t["attributes"].to_numpy(dtype=object).copy()
    for i, raw in enumerate(attrs):
        if raw is None or ('"latitude"' not in raw and '"longitude"' not in raw):
            continue
        obj = json.loads(raw)
        la, lo = _coord(obj.get("latitude")), _coord(obj.get("longitude"))
        if la is not None and lo is not None:
            lat[i], lon[i] = la, lo
        attrs[i] = canonical_attrs(raw)
    return pd.DataFrame(
        {
            "time": t["time"].to_numpy(),
            "entity_id": t["entity_id"].to_numpy(dtype=object),
            "state": state.to_numpy(dtype=object),
            "attributes": attrs,
            "loc_lon": lon,
            "loc_lat": lat,
        }
    )


def _micros(col: pa.ChunkedArray) -> np.ndarray:
    """A parquet timestamp column (any unit, any zone) as UTC microseconds."""
    if pa.types.is_timestamp(col.type) and col.type.unit != "us":
        col = col.cast(pa.timestamp("us", tz=col.type.tz))
    return col.cast(pa.int64()).to_numpy()


def _read_events(path: str) -> pd.DataFrame:
    t = pq.read_table(path)
    return pd.DataFrame(
        {
            "time": _micros(t["time_fired"]),
            "entity_id": t["entity_id"].to_numpy(zero_copy_only=False),
            "state": t["state"].to_numpy(zero_copy_only=False),
            "attributes": t["attributes"].to_numpy(zero_copy_only=False),
        }
    )


def expected_states(
    paths: list[str], spec: dict, watermark_us: int | None = None
) -> pd.DataFrame:
    """The state table the ingest path should produce from ``paths`` (read
    in this order, one file per micro-batch).

    With ``watermark_us`` the streaming dedup's late-event drop is applied.
    Spark filters late rows of batch k against the watermark batch k-1 ran
    with, i.e. the max event time (truncated to milliseconds) of batches
    0..k-2 minus the delay; a row at or before that instant is dropped."""
    kept = []
    batch_max: list[int] = []  # max valid, filtered event time per batch
    for k, path in enumerate(paths):
        ev = _read_events(path)
        valid = ev["entity_id"].notna() & ev["state"].notna() & (ev["state"] != "unknown")
        ev = ev[valid]
        keep = {e for e in ev["entity_id"].unique() if _keep_entity(e, spec)}
        ev = ev[ev["entity_id"].isin(keep)]
        if watermark_us is not None and k >= 2:
            threshold = max(batch_max[: k - 1]) // 1000 * 1000 - watermark_us
            kept.append(ev[ev["time"] > threshold])
        else:
            kept.append(ev)
        batch_max.append(int(ev["time"].max()) if len(ev) else -(2**62))
    allev = pd.concat(kept, ignore_index=True)
    allev = allev.drop_duplicates(["time", "entity_id"], keep="first")
    return _project(allev.reset_index(drop=True))


def read_state_table(paths: list[str]) -> pd.DataFrame:
    """Read Spark-written state parquet (directories or files) into the
    comparison shape: ``time`` as integer microseconds, NULL coordinates as
    NaN."""
    frames = []
    for p in paths:
        files = (
            [os.path.join(r, f) for r, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")]
            if os.path.isdir(p)
            else [p]
        )
        for f in sorted(files):
            frames.append(pq.read_table(f, columns=STATE_COLUMNS))
    t = pa.concat_tables(frames, promote_options="default")
    return pd.DataFrame(
        {
            "time": _micros(t["time"]),
            "entity_id": t["entity_id"].to_numpy(zero_copy_only=False),
            "state": t["state"].to_numpy(zero_copy_only=False),
            "attributes": t["attributes"].to_numpy(zero_copy_only=False),
            "loc_lon": t["loc_lon"].to_numpy(zero_copy_only=False).astype("float64"),
            "loc_lat": t["loc_lat"].to_numpy(zero_copy_only=False).astype("float64"),
        }
    )


def table_digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash of the rows)."""
    df = df[STATE_COLUMNS]
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def compare_tables(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal; else a short description of the difference."""
    gn, gh = table_digest(got)
    wn, wh = table_digest(want)
    if (gn, gh) == (wn, wh):
        return None
    key = ["time", "entity_id"]
    g = got.set_index(key)
    w = want.set_index(key)
    missing = w.index.difference(g.index)
    extra = g.index.difference(w.index)
    msg = f"rows {gn} vs expected {wn}; missing {len(missing)}, extra {len(extra)}"
    if len(missing):
        msg += f"; first missing {missing[0]}"
    if len(extra):
        msg += f"; first extra {extra[0]}"
    if not len(missing) and not len(extra):
        both = g.join(w, lsuffix="_got", rsuffix="_want")
        for c in STATE_COLUMNS[2:]:
            a, b = both[f"{c}_got"], both[f"{c}_want"]
            diff = ~((a == b) | (a.isna() & b.isna()))
            if diff.any():
                i = diff.to_numpy().nonzero()[0][0]
                msg += f"; column {c} differs, e.g. {a.iloc[i]!r} vs {b.iloc[i]!r}"
                break
    return msg


# ---------------------------------------------------------------------------
# dashboard queries over the same parquet, with DuckDB
# ---------------------------------------------------------------------------


class QueryOracle:
    def __init__(self, files: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        lst = ", ".join(f"'{f}'" for f in files)
        self.con.execute(
            f"CREATE VIEW t AS SELECT epoch_us(time) AS us, entity_id, state, "
            f"attributes, loc_lon, loc_lat FROM read_parquet([{lst}], union_by_name=true)"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def range(self, eid: str, lo_us: int, hi_us: int) -> list[tuple]:
        return self._rows(
            "SELECT us, entity_id, state, attributes, loc_lon, loc_lat FROM t "
            "WHERE entity_id = ? AND us BETWEEN ? AND ? ORDER BY us DESC",
            (eid, lo_us, hi_us),
        )

    def latest(self, at_us: int | None = None) -> set[tuple]:
        where = "" if at_us is None else f"WHERE us <= {int(at_us)}"
        return set(
            self._rows(f"SELECT entity_id, max(us), arg_max(state, us) FROM t {where} GROUP BY 1")
        )

    def buckets(self, eid: str, lo_us: int, hi_us: int) -> dict[int, tuple]:
        """hour bucket start (us) -> (n, avg, min, max) of numeric states."""
        rows = self._rows(
            "SELECT us - us % 3600000000 AS b, count(*), "
            "CAST(sum(CAST(TRY_CAST(state AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)"
            " / CAST(count(TRY_CAST(state AS DOUBLE)) AS DOUBLE), "
            "min(TRY_CAST(state AS DOUBLE)), max(TRY_CAST(state AS DOUBLE)) "
            "FROM t WHERE entity_id = ? AND us >= ? AND us < ? GROUP BY 1",
            (eid, lo_us, hi_us),
        )
        return {r[0]: r[1:] for r in rows}

    def gapfill(self, eid: str, lo_us: int, hi_us: int) -> list[tuple]:
        """(bucket us, avg, filled avg, is_gap) over every hour between the
        first and last non-empty bucket, carrying the last value forward."""
        sparse = {b: v[1] for b, v in self.buckets(eid, lo_us, hi_us).items()}
        if not sparse:
            return []
        out, last = [], None
        for b in range(min(sparse), max(sparse) + 1, 3600 * 1_000_000):
            v = sparse.get(b)
            if v is not None:
                last = v
            out.append((b, v, last, b not in sparse))
        return out


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or (isinstance(a, float) and math.isnan(a))) and (
            b is None or (isinstance(b, float) and math.isnan(b))
        )
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b
