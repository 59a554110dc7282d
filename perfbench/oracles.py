"""Correctness oracles. Offline ops are checked against DuckDB over the
same generated parquet, in the suite's materialize / ASOF / batch /
split shapes; tables against an expected state replayed in pandas."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

MATERIALIZE = """
SELECT user_id AS entity, value, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events) t
WHERE rn = 1
"""

TRAINING_SET = """
SELECT DISTINCT l.user_id AS entity, c.v AS f_click, a.v AS f_value,
       g.v AS f_value_lag, l.value AS label, l.ts AS label_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id AS e, value AS v, ts FROM events
                WHERE event_type = 'click') c
  ON l.user_id = c.e AND l.ts >= c.ts
ASOF LEFT JOIN (SELECT user_id AS e, value AS v, ts FROM events) a
  ON l.user_id = a.e AND l.ts >= a.ts
ASOF LEFT JOIN (SELECT user_id AS e, value AS v,
                       ts + INTERVAL {lag} SECOND AS ts FROM events) g
  ON l.user_id = g.e AND l.ts >= g.ts
"""

BATCH_FEATURES = """
WITH ev AS (SELECT user_id, arg_max(value, ts) AS v, arg_max(event_type, ts) AS t
            FROM events GROUP BY user_id),
     cl AS (SELECT user_id, arg_max(value, ts) AS v
            FROM events WHERE event_type = 'click' GROUP BY user_id)
SELECT COALESCE(ev.user_id, cl.user_id) AS entity, ev.v, ev.t, cl.v AS c
FROM ev FULL OUTER JOIN cl ON ev.user_id = cl.user_id
"""

SPLIT = f"""
WITH ranked AS (
  SELECT *, row_number() OVER (ORDER BY md5(CAST(entity AS VARCHAR) || '#42')) AS rn,
         COUNT(*) OVER () AS total
  FROM ({MATERIALIZE}) m)
SELECT entity, value, ts,
       CASE WHEN rn <= CAST(FLOOR(total * 0.2) AS BIGINT) THEN 1 ELSE 0 END AS is_test
FROM ranked
"""


def duckdb_events(events_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/*.parquet')"
    )
    return con


def _canonical(t: pa.Table) -> pd.DataFrame:
    cols = {}
    for i, name in enumerate(t.column_names):
        col = t.column(i)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.int64())
        elif pa.types.is_integer(col.type):
            col = pc.cast(col, pa.int64())
        cols[f"c{i}"] = col
    df = pa.table(cols).to_pandas()
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def frames_differ(got: pa.Table, want: pa.Table) -> str | None:
    """None when both hold the same multiset of rows (columns matched
    by position), else a one-line reason."""
    if got.num_columns != want.num_columns:
        return f"{got.num_columns} columns, want {want.num_columns}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows, want {want.num_rows}"
    a, b = _canonical(got), _canonical(want)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            same = np.array_equal(
                x.astype(np.float64), y.astype(np.float64), equal_nan=True
            )
        else:
            same = bool((pd.Series(x).fillna("\0") == pd.Series(y).fillna("\0")).all())
        if not same:
            return f"column {got.column_names[int(c[1:])]} differs"
    return None
